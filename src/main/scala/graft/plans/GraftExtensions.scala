package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** THE session-extension entry point — the single place the engine's
  * optimizer rule and SQL functions are installed (at session build time;
  * [[graft.Tables.read]] deliberately does NOT self-register anything, so
  * a user session gets the rule before any table is read).
  *
  * Two ways to install:
  *
  *   - programmatic: `.withExtensions(new GraftExtensions)` on the
  *     session builder — library embedding, as [[graft.Bench.session]]
  *     does;
  *   - configuration-only: `--conf spark.sql.extensions=
  *     graft.plans.GraftExtensions` — no code change on an existing
  *     application, the standard mechanism for cluster-wide rollout
  *     (spark-submit / job-server deployments where the engine's jars are
  *     on the classpath but the session builder isn't ours).
  *
  * Injected pieces:
  *
  *   - [[TsLiteralPushdown]] as a resolved-plan optimizer rule, so
  *     event-time range predicates keep parquet row-group pruning after
  *     the ns-normalization projection (see the rule's doc — at 100 TB
  *     this is the difference between min/max-skipping and a full scan);
  *   - the [[graft.functions.Registry]] SQL functions (`graft_dot`,
  *     `graft_jaro_winkler`) backed by the native codegen expressions.
  *
  * Installation is idempotent: the rule is an `object`,
  * `transformAllExpressions` is a no-op once the pattern no longer
  * matches, and double registration rewrites nothing twice because the
  * first pass already eliminated the matched shape.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => TsLiteralPushdown)
    // SQL INSERT INTO/OVERWRITE on `USING graft` relations must commit
    // through the manifest protocol; the generic file-source insert
    // would write unlisted parquet straight into the table dir
    // (invisible rows = silent data loss). Resolution-batch placement
    // beats the post-hoc DataSourceAnalysis to the statement.
    // schema-DDL (column-mapping) relations project to their logical
    // names — MUST sit in the same resolution batch as the DML rule,
    // which defers conversion until the wrap has landed
    ext.injectResolutionRule(session => new GraftMappingRule(session))
    ext.injectResolutionRule(_ => new GraftInsertRule)
    // DV-carrying format("graft") reads become native scan+anti-join
    // plans (vectorized parquet + codegen preserved); optimizer-side so
    // EVERY execution re-applies the live snapshot's tombstones — see
    // the rule's doc for why the analyzer cannot host this
    ext.injectOptimizerRule(session => new GraftDvReadRule(session))
    // SQL time travel BY NAME (SELECT ... FROM t VERSION AS OF n):
    // Spark only resolves RelationTimeTravel for DSv2 tables — its own
    // ResolveRelations THROWS for v1 relations, so this must run in
    // the earlier hint-resolution batch to claim graft names first
    ext.injectHintResolutionRule(session =>
      new GraftTimeTravelRule(session))
    // governance verbs (ALTER TABLE ADD/DROP CONSTRAINT, DESCRIBE
    // HISTORY, OPTIMIZE [ZORDER BY], VACUUM) as a delegating parser —
    // everything outside the five shapes goes to Spark's own parser
    ext.injectParser((session, delegate) =>
      new GraftSqlParser(session, delegate))
    // Native expressions as SQL functions (graft_dot, graft_jaro_winkler
    // …): the same descriptions graft.functions.Registry.register
    // installs post-hoc, here wired at session build time.
    graft.functions.Registry.functions.foreach(ext.injectFunction)
  }
}

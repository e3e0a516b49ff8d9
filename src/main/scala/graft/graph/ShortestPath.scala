package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Single-source shortest path — Bellman-Ford relaxation as a DataFrame
  * loop (reference G9, `shortestpath/path.go:145-197`: min-cost message
  * relax until no vertex improves; negative weights rejected,
  * `path.go:87-93`; the answer includes the actual path, rebuilt from
  * per-vertex predecessor pointers, `path.go:115-141`).
  *
  * Distances are LongType so results are exact (and cross-engine
  * comparable). Each round is one shuffle (`groupBy(id).min(struct)`):
  * the frontier of known distances joins the edge table, candidate
  * `(dist, hops, prev)` tuples union the previous state, and the
  * lexicographic minimum wins — ties on distance break to the FEWEST
  * HOPS first, then the smallest predecessor id. The hop tie-break is
  * what makes the predecessor tree well-founded under zero-weight
  * edges: every chosen prev has strictly fewer hops, so back-walks
  * strictly descend and can never cycle (prev-only tie-breaking can be
  * tricked into a 2-cycle by a zero-weight loop whose ids sort below
  * the true predecessor). Vertices never reached are absent from the
  * result (infinite distance).
  */
object ShortestPath {

  /** Full per-vertex state: (id, dist, hops, prev), where `prev` is
    * the chosen predecessor on a shortest path, `hops` its length in
    * edges, and "" marks the source.
    *
    * edges: (src, dst, w: long ≥ 0) — negative weights rejected up
    * front by the same one-row scan that counts the edges. Runs
    * `maxHops` relaxation rounds (Bellman-Ford converges in ≤ |V|-1;
    * callers bound it). With `earlyStop = false` the loop builds ONE
    * lazy plan — zero driver actions beyond the weight guard. */
  def state(edges: DataFrame, sourceId: Any, maxHops: Int,
            earlyStop: Boolean = true,
            noPrev: Any = ""): DataFrame = {
    // Persist the caller's edge subtree once (it is typically a scan +
    // aggregate and would otherwise re-execute for the guard and the
    // cache build), then hash-partition AND sort the static edge table
    // by the join key and cache it in that layout (InMemoryRelation
    // preserves the cached plan's partitioning and ordering): every
    // relaxation round then shuffles + sorts only the V-sized state
    // frame, never the E-sized edge table — the superstep co-location a
    // 100 TB cluster needs. Partition-count law as in PageRank: ~128k
    // edges per partition between 4 and the cluster parallelism, so
    // small graphs don't pay scheduler overhead for near-empty tasks.
    val e0 = edges.select(col("src"), col("dst"), col("w").cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val firstRow = e0
      .agg(count(when(col("w") < 0, lit(1))).as("neg"),
        count(lit(1)).as("n")).first()
    require(firstRow.getLong(0) == 0,
      "negative edge weights are not supported (reference " +
        "shortestpath/path.go:87-93 rejects them)")
    val p = GraphUtil.partitionLaw(firstRow.getLong(1),
      edges.sparkSession)
    val e = e0.repartition(p, col("src"))
      .sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession

    // `lit` keeps the caller's id type — string names or
    // dictionary-encoded longs both work; `noPrev` is the source's
    // predecessor sentinel in that same type.
    var st = spark.range(1).select(lit(sourceId).as("id"),
        lit(0L).as("dist"), lit(0).as("hops"), lit(noPrev).as("prev"))
      .localCheckpoint(false)
    var hop = 0
    var done = false
    while (hop < maxHops && !done) {
      val relaxed = st
        .join(e.withColumnRenamed("src", "id"), Seq("id"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"),
          (col("hops") + 1).as("hops"), col("id").as("prev"))
      // Lazy localCheckpoint: constant-size plan per round (the union
      // references `st` twice — unchecked, the plan doubles per hop).
      val next = st.select(col("id"),
          struct(col("dist"), col("hops"), col("prev")).as("sp"))
        .union(relaxed.select(col("id"),
          struct(col("dist"), col("hops"), col("prev")).as("sp")))
        .groupBy("id").agg(min("sp").as("sp"))
        .select(col("id"), col("sp.dist").as("dist"),
          col("sp.hops").as("hops"), col("sp.prev").as("prev"))
        .localCheckpoint(false)
      if (earlyStop) {
        // Converged when no (dist, hops) improved and no vertex
        // appeared (hops included: a shorter equal-cost route may
        // still be propagating under zero-weight edges).
        val changed = next.join(st.select(col("id"),
            col("dist").as("pd"), col("hops").as("ph")), Seq("id"), "left")
          .filter(col("pd").isNull || col("dist") < col("pd") ||
            (col("dist") === col("pd") && col("hops") < col("ph")))
          .limit(1).count()
        if (changed == 0) done = true
      }
      st = next
      hop += 1
    }
    st
  }

  /** Distances only — (id, dist), the reference's scalar answer. */
  def run(edges: DataFrame, sourceId: Any, maxHops: Int,
          earlyStop: Boolean = true, noPrev: Any = ""): DataFrame =
    state(edges, sourceId, maxHops, earlyStop, noPrev = noPrev)
      .select("id", "dist")

  /** Path reconstruction for EVERY reachable vertex at once: walks the
    * predecessor pointers `maxSteps` times in parallel (a join per step
    * against the state table, not a driver-side walk per destination).
    * Returns (id, dist, path) with path = "src->…->id". `maxSteps` must
    * be ≥ the relaxation hop bound — back-pointer chains cannot be
    * longer than the hop count that produced them. */
  def paths(st: DataFrame, maxSteps: Int): DataFrame = {
    val s = st.persist(StorageLevel.MEMORY_AND_DISK)
    var walk = s.select(col("id"), col("dist"),
      array(col("id")).as("path"), col("id").as("head"))
    for (_ <- 0 until maxSteps) {
      walk = walk
        .join(s.select(col("id").as("head"), col("prev").as("ph")),
          Seq("head"))
        .select(col("id"), col("dist"),
          when(col("ph") === "", col("path"))
            .otherwise(concat(array(col("ph")), col("path"))).as("path"),
          when(col("ph") === "", col("head"))
            .otherwise(col("ph")).as("head"))
        .localCheckpoint(false)
    }
    walk.select(col("id"), col("dist"),
      concat_ws("->", col("path")).as("path"))
  }

  /** One destination's path as plain Scala (reference
    * `BuildShortestPathTo`): None if unreachable. */
  def pathTo(st: DataFrame, dst: String, maxSteps: Int): Option[Seq[String]] =
    paths(st, maxSteps).filter(col("id") === dst)
      .select("path").collect()
      .headOption.map(_.getString(0).split("->").toSeq)
}

package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Duplicate-CLUSTER resolution: the step after pair generation in a
  * dedup pipeline. Near-dup detectors (MinHash/SimHash/winnowing) emit
  * PAIRS; curation needs connected COMPONENTS of the pair graph so each
  * duplicate family collapses to one canonical document (reference
  * behavior lives in its dedup tier; clustering is how every production
  * corpus dedup actually applies it).
  *
  * Two tiers, threshold-gated like a broadcast join:
  *
  *  - **Bounded graph** (≤ `driverEdgeLimit` edges, the overwhelmingly
  *    common case — pairs are rare relative to the corpus, that's why
  *    they're dups): collect the EDGE LIST ONLY (never documents) and run
  *    union-find with path compression on the driver. Millions of edges
  *    resolve in milliseconds; the driver memory bound is explicit and
  *    checked, exactly like `broadcast()` bounds a dimension table.
  *  - **Giant graph**: distributed min-label propagation with pointer
  *    jumping — each round every node takes the min label among itself
  *    and its neighbors, then hops once to its label's own label (path
  *    compression), so convergence is O(log diameter) rounds. Each round
  *    is two equi-joins + a map-side-combined min; lineage is truncated
  *    per round (`localCheckpoint`) so plans stay O(1) deep. At cluster
  *    scale swap local for reliable checkpointing, same call shape.
  *
  * Both tiers are deterministic (min is order-insensitive; DSU output is
  * canonicalized by component-min after the fact) and produce identical
  * results — the unit test pins them equal on the same graph.
  */
object DupClusters {

  /** Resolve the undirected pair graph to components. Output: one row per
    * node — `doc_id`, `cluster_id` (= the component's min doc_id),
    * `cluster_size`, and `is_canonical` (the keeper under min-id
    * canonicalization). Nodes with no pairs are not emitted (they are
    * their own singleton clusters by definition).
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 50,
      driverEdgeLimit: Long = 4000000L): DataFrame = {
    val dir = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = dir.count()
    val out =
      if (n <= driverEdgeLimit) driverDsu(dir)
      else distributedLabels(dir, maxIter, n)
    dir.unpersist()
    out
  }

  /** Run `body` with the iteration-scoped shuffle width derived from the
    * measured edge count (~1M edges per partition, capped at the session
    * setting), restoring the session conf after — the guide's
    * scale-adaptive partitioning: an O(log diameter) join loop at a fixed
    * session width pays (width × rounds) empty-task and sort overhead on a
    * small graph, while a genuinely giant graph keeps the session's full
    * parallelism. Same pattern as the streaming replays' withReplayConf —
    * including its single-query-at-a-time assumption: a concurrent query
    * planned on this session during the loop window would inherit the
    * reduced width (queries here run sequentially; a concurrent caller
    * should scope width per-operation instead).
    */
  private def withGraphParallelism[T](
      spark: org.apache.spark.sql.SparkSession, edges: Long)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val p = math.max(1L, math.min(prev.toLong, edges / 1000000L + 1L))
    spark.conf.set(key, p.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Bounded tier: union-find over the collected edge list. */
  private def driverDsu(dir: DataFrame): DataFrame = {
    val spark = dir.sparkSession
    import spark.implicits._
    val es = dir.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // halve the path as we walk
        x = parent(x)
      }
      x
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-root union
    }
    val rows = parent.keys.toSeq.map(id => (find(id), id))
      .groupBy(_._1).valuesIterator.flatMap { members =>
        val ids = members.map(_._2)
        val cid = ids.min
        val size = ids.size.toLong
        ids.map(id => (id, cid, size, id == cid))
      }.toSeq
    spark.createDataFrame(rows)
      .toDF("doc_id", "cluster_id", "cluster_size", "is_canonical")
  }

  /** Giant tier: min-label propagation + pointer jumping. */
  private def distributedLabels(dir: DataFrame, maxIter: Int,
      edgeCount: Long): DataFrame = withGraphParallelism(dir.sparkSession, edgeCount) {
    val edges = dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .transform(graft.core.Staging.stageNow)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val byDst = labels.select(col("id").as("dst"), col("lbl").as("dlbl"))
      val nmin = edges.join(byDst, Seq("dst"))
        .groupBy("src").agg(min(col("dlbl")).as("nmin"))
      val stepped = labels
        .join(nmin.select(col("src").as("id"), col("nmin")), Seq("id"), "left_outer")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
      // pointer jump: hop to the label's own label, compressing chains.
      // The change flag rides through the checkpoint so the convergence
      // count is a cheap scan of materialized rows, not a second join.
      val parents = stepped.select(col("id").as("lbl"), col("lbl").as("plbl"))
      val next = stepped.join(parents, Seq("lbl"), "left_outer")
        .select(col("id"), coalesce(col("plbl"), col("lbl")).as("lbl"),
          (coalesce(col("plbl"), col("lbl")) < col("old")).as("chg"))
        .transform(graft.core.Staging.stageNow)
      changed = next.filter(col("chg")).count()
      labels = next.select("id", "lbl")
      i += 1
    }
    edges.unpersist()
    // A label set that is still moving when the iteration budget runs out is
    // NOT a component labeling — failing loudly beats silently-wrong
    // cluster_ids downstream (dedup would keep/drop the wrong canonicals).
    require(changed == 0,
      s"dup-cluster label propagation did not converge in $maxIter iterations " +
        s"($changed labels still changing); raise maxIter")
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("lbl"))
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_size"), (col("id") === col("lbl")).as("is_canonical"))
  }
}

package graft.ext

import graft.core.{ConvergenceFailed, Jobs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate cluster assignment: connected components over the
  * pair lists produced by the dedup family ([[Dedup.ngramJaccardPairs]],
  * [[Dedup.minhashLshPairs]], [[Dedup.simhashPairs]],
  * [[Dedup.embeddingNearDupPairs]]), then one canonical document kept
  * per component.
  *
  * Components are computed with alternating large-star / small-star
  * rounds (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) — the standard shuffle-native formulation that
  * converges in O(log n) rounds regardless of component diameter, so a
  * 100 TB corpus whose duplicate graph contains one giant near-clique
  * (boilerplate, licence pages) still finishes in a handful of rounds
  * where naive min-label propagation would need diameter-many. Each
  * round is two key-partitioned aggregations and two co-partitioned
  * joins — no driver-side graph state at any size; every round's edge
  * set is `localCheckpoint`ed so the loop's lineage stays flat.
  *
  * The fixpoint is exact (every node maps to the minimum id in its
  * component), so unlike iterative numeric solvers the iteration count
  * does not leak into the result — the operator is oracle-checkable
  * against a recursive-CTE reachability query.
  */
object Cluster {

  /** Order-independent, overflow-free edge-set signature used for the
    * convergence test: (row count, xor of per-edge 64-bit hashes). */
  private def signature(edges: DataFrame): (Long, Long) = {
    val r = edges
      .agg(count(lit(1)).as("n"), expr("bit_xor(xxhash64(u, v))").as("h"))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Large-star: every node points its larger neighbors at the minimum
    * of its closed neighborhood. Input/output edges oriented u > v. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: every node's smaller neighbors (and the node itself)
    * point at the minimum of the smaller neighborhood. Edges oriented
    * u > v in and out. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy(col("u")).agg(min(col("v")).as("m"))
    val reattach = edges.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    reattach.union(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Edge count below which the fixpoint runs as a driver union-find
    * instead of the distributed star rounds: 2M (u, v) longs is ~32 MB
    * plus map overhead — the same bounded-driver-fast-path precedent as
    * AKM's `DriverEdgeCap`. The RESULT is identical either way (min
    * reachable id is algorithm-independent); only the route differs.
    * At test scale the star loop is ~6 rounds x ~6 fixed-cost jobs over
    * a few thousand edges — pure scheduling overhead the fast path
    * removes; above the cap the O(log n) distributed loop is the only
    * thing that survives 100 TB. */
  val DriverEdgeCap = 2000000L

  /** Connected components of the undirected graph given as (idA, idB)
    * pairs. Returns one row per node that appears in any pair:
    * (id, component) with component = the smallest node id reachable
    * from id. Fails loudly if `maxRounds` alternating rounds do not
    * reach the fixpoint (each round at least halves the maximum
    * root-distance, so 30 rounds covers any graph with < 2^30 nodes per
    * component — hitting the cap means the input violates the edge
    * contract, not that more rounds are needed). */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxRounds: Int = 30,
      driverEdgeCap: Long = DriverEdgeCap): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    // localCheckpoint pins its RDD in the block manager for the session;
    // O(log n) rounds x |edges| would accumulate, so each superseded
    // round's checkpoint is freed as soon as its successor materializes
    // (the ids are diffed around the eager checkpoint call)
    def ckpt(df: DataFrame): (DataFrame, Seq[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint()
      (out, (sc.getPersistentRDDs.keySet -- before).toSeq)
    }
    def free(ids: Seq[Int]): Unit = ids.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    var (edges, ckptIds) = Jobs.labeled(spark, "cluster: edges")(ckpt(pairs
      .select(col(idA).cast("long").as("x"), col(idB).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"),
        least(col("x"), col("y")).as("v"))
      .distinct()))
    var sig = Jobs.labeled(spark, "cluster: edges")(signature(edges))

    if (sig._1 <= driverEdgeCap) {
      // bounded driver fast path over the deduped edge list (already
      // materialized by the checkpoint)
      val es = Jobs.labeled(spark,
          s"cluster: driver union-find (edges ${sig._1}, cap $driverEdgeCap)") {
        edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      free(ckptIds)
      import spark.implicits._
      // parallelize, NOT toDF: a LocalRelation would embed the full
      // component map inside the logical plan, and downstream joins
      // (assignClusters) would carry those megabytes through every
      // plan copy/optimization; as an RDD scan the map lives once in
      // the block manager and the plan stays O(1)
      return sc.parallelize(driverComponents(es).toIndexedSeq)
        .toDF("id", "component")
    }

    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      Jobs.labeled(spark, s"cluster: star round $round (edges ${sig._1})") {
        val (next, nextIds) = ckpt(smallStar(largeStar(edges)))
        free(ckptIds)
        edges = next
        ckptIds = nextIds
        val nextSig = signature(edges)
        converged = nextSig == sig
        sig = nextSig
      }
    }
    if (!converged)
      throw ConvergenceFailed(s"connectedComponents: no fixpoint after " +
        s"$maxRounds rounds (malformed edge input?)")
    // at the fixpoint every edge is (member, root); roots only appear on
    // the v side and map to themselves
    edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Connected components of an edge list on the driver, submitting no
    * Spark job: union-find with path compression. Returns (node,
    * component) for every node of an edge, in order of first appearance,
    * with component = the smallest node id reachable from node. */
  private[graft] def driverComponents(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
      }
      r
    }
    edges.foreach { case (u, v) =>
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        // always attach the larger root under the smaller so every
        // root IS the component minimum (matching the star fixpoint)
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    edges.iterator.flatMap { case (u, v) => Iterator(u, v) }.toArray.distinct
      .map(n => (n, find(n)))
  }

  /** Every document joined with its near-dup cluster: `cluster_id` is
    * the minimum doc id among its near-duplicates (its own id when it
    * has none) and `is_canonical` marks the one kept row per cluster.
    * `pairs` is any (id_a, id_b) near-duplicate pair list over the same
    * id space. */
  def assignClusters(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
      .withColumnRenamed("id", idCol)
    docs.join(cc, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("component"), col(idCol)))
      .drop("component")
      .withColumn("is_canonical", col(idCol) === col("cluster_id"))
  }

  /** The deduplicated corpus: one canonical (minimum-id) document per
    * near-dup cluster, all other columns carried through. */
  def dropNearDuplicates(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame =
    assignClusters(docs, idCol, pairs)
      .filter(col("is_canonical"))
      .drop("cluster_id", "is_canonical")
}

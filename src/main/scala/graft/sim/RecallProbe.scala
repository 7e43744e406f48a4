package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Serving-recall probe — the measurement harness behind the e23
  * build-budget election ([[Sim.graphKOf]]): builds the k-NN graph at
  * an EXPLICIT (K, rounds, cap) budget, then measures recall@10 of
  * the e25 beam walk and the e29 two-level serve against e01's exact
  * panel, at the FIXED serve budget (beam 12, 3 hops) every candidate
  * budget must be compared under. This is the nightly index-quality
  * job a production deployment runs next to e10: the budget staircase
  * in [[Sim.graphKOf]] is pinned to numbers this probe produced, and
  * re-running it is how the staircase gets re-elected when the corpus
  * or the embedding model changes.
  *
  *   runMain graft.sim.RecallProbe <sfDir> <k> <rounds> [<cap>]
  *
  * Prints one JSON line: corpus size, budget, graph edge count, and
  * recall@10 for {graph-direct, e25 walk, e29 two-level}.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = args(1).toInt
    val rounds = args(2).toInt
    val spark = graft.LocalSession()
    val n = Sim.corpusN(spark, dir)
    val cap = if (args.length > 3) args(3).toInt else Sim.maxBucketOf(n)
    import graft.Checkpoints._

    val corpus = Sim.emb(spark, dir)
      .withColumn("bucket", Sim.bucketColOf(Sim.SigBits, Some(spark)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val g = Sim.e23GraphPlanOn(spark, corpus, rounds, k, cap)
      .select("node_id", "neighbor_id").cutLineage
    corpus.unpersist()
    val gu = Sim.hnswUpperEdges(spark, dir).cutLineage

    val exact = Sim.e01KnnCosine(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(df: DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val hits = exact.map { case (q, ex) =>
        (ex intersect got.getOrElse(q, Set.empty)).size
      }.sum
      hits.toDouble / exact.values.map(_.size).sum
    }
    // graph-direct: the query nodes' own adjacency lists (graph
    // quality floor, no walk)
    val direct = g.where(col("node_id") < 20)
      .select(col("node_id").as("query_id"), col("neighbor_id"))
    val rDirect = recall(direct)
    val r25 = recall(Sim.beamServeOver(spark, dir, g, Sim.ServeHops))
    val uEntries = if (args.length > 4) args(4).toInt else Sim.UpperEntries
    val uHops = if (args.length > 5) args(5).toInt else Sim.UpperHops
    val uKeep = if (args.length > 6) args(6).toInt else Sim.ServeEntries
    val r29 = recall(Sim.e29ServeOver(spark, dir, gu, g, uEntries, uHops, uKeep))
    // e30/e31 measure the SHIPPED ops (their index builds are
    // persisted build-once, budgets self-elected from the corpus)
    val r30 = recall(Sim.e30DedupServe(spark, dir))
    val r31 = recall(Sim.e31IvfSeededServe(spark, dir))
    val edges = g.count()
    println(f"""{"n":$n,"k":$k,"rounds":$rounds,"cap":$cap,"edges":$edges,""" +
      f""""uEntries":$uEntries,"uHops":$uHops,"uKeep":$uKeep,""" +
      f""""recall_graph":$rDirect%.4f,"recall_e25":$r25%.4f,""" +
      f""""recall_e29":$r29%.4f,"recall_e30":$r30%.4f,""" +
      f""""recall_e31":$r31%.4f}""")
    spark.stop()
  }
}

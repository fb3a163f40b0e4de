package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hybrid-kernel leg measurement — the protocol behind SCALING.md's
  * "both legs measured" table for the graph kernels that gate between a
  * dense driver kernel and a distributed leg (triangles, Louvain,
  * k-core's distributed-only peel, PPR's bipartite gate).
  *
  * The similarity graphs these kernels run on stay under their dense
  * gates at every shipped SF (a KNN graph is k·|vectors| edges — the
  * natural crossing needs ~500k vectors), so the distributed legs are
  * measured by FORCING them (`seqMaxEdges = 0`, the GraphXEnrichSpec
  * parity technique) on the SAME graph the dense leg ran, plus the
  * 6M-edge purchase-pair graph at sf1 where a natural corpus-sized
  * input exists. gx_ppr_recommend crosses its 2.5M-pair gate naturally
  * at sf1 and is timed through its catalog entry.
  *
  * Usage: HybridSweep <sfDir> [probe,...]   (one JVM per SF; the first
  * probe absorbs JIT warm-up — order probes accordingly or discard the
  * first reading, the Bench discipline.)
  */
object HybridSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // probes run in the ORDER GIVEN (so a cheap absorber can be put
    // first to soak the JVM/JIT warm-up — the Bench subset discipline)
    val only = args.drop(1).headOption.map(_.split(",").toSeq)
    val spark = graft.core.GraftSession.local(graft.core.GraftSession.cpus(32))

    def knn: DataFrame = graft.sim.KnnCache.topk(spark, sfDir, 5)
      .select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"), col("cos").as("weight"))
    def pp: DataFrame = graft.graph.Links.purchasePairsNumeric(spark, sfDir)
      .select(col("customer").cast("string").as("src"),
        col("product").cast("string").as("dst"), lit(1.0).as("weight"))

    val probes: Seq[(String, () => (Long, Long))] = Seq(
      // label -> (result rows forced, input edges)
      "tri_dense_knn" -> (() => {
        val e = knn; val n = e.count()
        (graft.graph.GraphXAnalytics.triangles(spark, e.select("src", "dst")).count(), n)
      }),
      "tri_gx_knn" -> (() => {
        val e = knn; val n = e.count()
        (graft.graph.GraphXAnalytics.triangles(spark, e.select("src", "dst"),
          seqMaxEdges = 0L).count(), n)
      }),
      "tri_gx_pp" -> (() => { // 6M edges at sf1: the natural corpus-scale input
        val e = pp; val n = e.count()
        (graft.graph.GraphXAnalytics.triangles(spark, e.select("src", "dst"),
          seqMaxEdges = 0L).count(), n)
      }),
      "kcore_knn" -> (() => { // kCore is distributed-only (no dense leg)
        val e = knn; val n = e.count()
        (graft.graph.GraphXAnalytics.kCore(spark, e.select("src", "dst"),
          k = 6, rounds = 2).count(), n)
      }),
      "kcore_pp" -> (() => {
        val e = pp; val n = e.count()
        (graft.graph.GraphXAnalytics.kCore(spark, e.select("src", "dst"),
          k = 6, rounds = 2).count(), n)
      }),
      "louvain_dense_knn" -> (() => {
        val e = knn; val n = e.count()
        (graft.graph.Louvain.detect(spark, e, maxIter = 8).count(), n)
      }),
      "louvain_gx_knn" -> (() => {
        val e = knn; val n = e.count()
        (graft.graph.Louvain.detect(spark, e, maxIter = 8,
          seqMaxEdges = 0L).count(), n)
      }),
      "sp_gx_tpch" -> (() => { // forced frontier-sparse relaxation leg
        val g = graft.graph.GraphBuilder.fromTpch(spark, sfDir)
        val n = g.edges.count()
        (graft.graph.GraphXAnalytics.shortestPaths(spark, g, "loc_",
          rounds = 8, seqMaxEdges = 0L).count(), n)
      }),
      "ppr_entry" -> (() => { // the entry's own 2.5M-pair gate decides the leg
        val n = graft.graph.Links.purchasePairsNumeric(spark, sfDir).count()
        (graft.catalog.GraphML.queries("gx_ppr_recommend")(spark, sfDir).count(), n)
      }))

    val byName = probes.toMap
    val ordered = only match {
      case Some(names) => names.map(n => n -> byName(n))
      case None => probes
    }
    ordered.foreach { case (label, f) =>
      val t0 = System.nanoTime()
      val (rows, edges) = f()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"probe":"$label","sf":"$sfDir","edges":$edges,"rows":$rows,"sec":$sec%.2f}""")
    }
    spark.stop()
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** Block residency of the iterative graph operators. After a call's
  * result is collected, the persistent RDDs the call added must be
  * exactly those backing the returned frame: the checkpoints its plan
  * reads, plus the documented returned cache of the connected-components
  * regimes. Superseded pass checkpoints and edge caches must be gone,
  * and a block the operator did not create must survive it. */
class GraphResidencySpec extends SparkSpec {

  private def persistentIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** RDD ids a frame reads: checkpoint leaves and cache buffers. */
  private def backing(df: DataFrame): Set[Int] =
    df.queryExecution.withCachedData.collect {
      case r: LogicalRDD => r.rdd.id
      case m: InMemoryRelation => m.cacheBuilder.cachedColumnBuffers.id
    }.toSet

  /** 40 distinct supplier–customer pairs; seeds for bfs/closeness
    * (s ≡ 1 mod 10) and ppr (s ≡ 0 mod 17) are all present. */
  private def bipartite: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    Seq.tabulate(40)(i => (i.toLong, (i % 7 + 1).toLong)).toDF("s", "c")
  }

  /** K8 (a 3-core) plus a pendant path the peel removes, as (a, b), a < b. */
  private def undirected: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val k8 = for (a <- 0L until 8L; b <- a + 1 until 8L) yield (a, b)
    (k8 ++ Seq((7L, 8L), (8L, 9L), (9L, 10L))).toDF("a", "b")
  }

  private def residency(name: String)(op: => DataFrame): Unit =
    test(s"$name leaves only the blocks its result reads") {
      val before = persistentIds
      val out = op
      out.collect()
      val added = persistentIds -- before
      val reads = backing(out)
      try assert(added == reads,
        s"$name added ${added.toSeq.sorted.mkString(",")}, " +
          s"its result reads ${reads.toSeq.sorted.mkString(",")}")
      finally {
        out.unpersist(false)
        GraphLoop.rdds(out).foreach(_.unpersist(false))
      }
    }

  residency("pageRankPairs")(Graph.pageRankPairs(bipartite, topK = 10))
  residency("pageRankNodes")(Graph.pageRankNodes(undirected))
  residency("pprPairs")(Graph.pprPairs(bipartite, topK = 10))
  residency("hitsPairs")(Graph.hitsPairs(bipartite, topK = 10))
  residency("bfsLayersPairs")(Graph.bfsLayersPairs(bipartite))
  residency("closenessPairs")(Graph.closenessPairs(bipartite))
  residency("ssspPairs")(Graph.ssspPairs(
    bipartite.withColumn("w", col("s") % 5 + 1), topK = 10))
  residency("kCorePairs")(Graph.kCorePairs(undirected))
  residency("lpaLabels")(Graph.lpaLabels(undirected))
  residency("connectedDfJump")(Components.connectedDfJump(undirected))
  residency("connected (driver regime)")(Components.connected(undirected))
  residency("connected (large regime)")(
    Components.connected(undirected, maxDriverEdges = 0L))

  test("a loop frees only its own blocks") {
    val loop = new GraphLoop
    val first = loop.pass(spark.range(10).toDF())
    // persisted by someone else between a checkpoint and its release
    val other = sc.parallelize(1 to 10).persist()
    other.count()
    val second = loop.pass(first.select((col("id") + 1).as("id")))
    val out = loop.finish(second.agg(sum("id").as("s")))
    assert(out.head().getLong(0) == 55L)
    val live = persistentIds
    assert(live(other.id), "the caller's RDD must survive the loop's releases")
    Seq(first, second).flatMap(GraphLoop.rdds).foreach { r =>
      assert(!live(r.id), s"superseded checkpoint ${r.id} still registered")
    }
    other.unpersist()
    GraphLoop.rdds(out).foreach(_.unpersist(false))
  }
}

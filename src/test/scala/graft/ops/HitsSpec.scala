package graft.ops

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The fixed-point HITS must match an independent driver-side replay of
  * the same L1-normalized integer recurrence, and return no scores for
  * no edges.
  */
class HitsSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 1000000000L

  private def scoresOf(edges: Seq[(Long, Long)], iters: Int): (Map[Long, Long], Map[Long, Long]) = {
    val (hubs, auths) = Hits.run(edges.toDF("src", "dst").repartition(4), iters, Scale)
    def m(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (m(hubs), m(auths))
  }

  test("matches a driver-side replay of the L1 hub/authority recurrence") {
    val rnd = new scala.util.Random(17)
    // distinct edges: run() assumes no parallel edges
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2).distinct
    val hubNodes = edges.map(_._1).distinct
    var hub = hubNodes.map(_ -> Scale / hubNodes.size).toMap
    var auth = Map.empty[Long, Long]
    def normalize(raw: Map[Long, Long]): Map[Long, Long] = {
      val tot = raw.values.sum
      raw.map { case (n, r) => n -> (r * Scale) / tot }
    }
    for (_ <- 1 to 3) {
      auth = normalize(edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => hub(src) }.sum
      })
      hub = normalize(edges.groupBy(_._1).map { case (src, es) =>
        src -> es.map { case (_, dst) => auth(dst) }.sum
      })
    }
    assert(scoresOf(edges, 3) == ((hub, auth)))
  }

  test("empty edge list: empty hubs and authorities, edge list released") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (hubs, auths) = Hits.run(Seq.empty[(Long, Long)].toDF("src", "dst"), 2, Scale)
    assert(hubs.columns.toSeq == Seq("node", "hub"))
    assert(auths.columns.toSeq == Seq("node", "auth"))
    assert(hubs.collect().isEmpty && auths.collect().isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the persisted edge list must be released")
  }
}

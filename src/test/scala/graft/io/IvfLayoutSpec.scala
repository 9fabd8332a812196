package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VecFns.dotSeq
import graft.queries.Quantizer

/** Index-as-storage-layout: the IVF inverted lists persisted as a
  * `partitionBy(cid)` parquet layout, so an ANN probe's cluster
  * restriction becomes PARTITION PRUNING at the scan — the probe reads
  * nprobe/K of the corpus BYTES, not just nprobe/K of its rows. This is
  * the at-rest form of the s03/s11 in-memory probe and the shape a
  * 100 TB vector corpus actually serves from: the quantizer trains
  * once (s11), the assignment job writes each inverted list as its own
  * partition directory, and every query after that is a pruned scan +
  * a k-sized rerank. Asserted here: (a) the probe plan carries the cid
  * partition filter, (b) the pruned-layout answer is IDENTICAL to the
  * in-memory assignment's answer.
  */
class IvfLayoutSpec extends SparkSpec {

  test("cid-partitioned IVF layout: probe prunes partitions, matches in-memory path") {
    val dir = "/root/testdata/sf0.001"
    val asg = Quantizer.assignments(spark, dir) // (vec_id, e, cid)
    // write into a SUBPATH: the scratch root exists, and Spark's
    // ErrorIfExists mode rejects any existing target path
    Writers.withScratchDir(spark, "graft-ivf-layout") { scratch =>
      val path = s"$scratch/ivf"
      asg.write.partitionBy("cid").parquet(path)
      val layout = spark.read.parquet(path)

      // probe: nearest nprobe=2 centroids of query vec 0 (driver-side —
      // the centroid table is K rows by construction)
      val q = asg.filter(col("vec_id") === 0L).select("e")
        .head().getSeq[Double](0).toArray
      val probed = Quantizer.centroids(spark, dir).collect()
        .map { r =>
          val c = r.getSeq[Double](r.fieldIndex("c"))
          (r.getAs[Number]("cid").longValue(), c.zip(q).map { case (a, b) => a * b }.sum)
        }
        .sortBy { case (cid, d) => (-d, cid) }.take(2).map(_._1).toSeq

      val pruned = layout.filter(col("cid").isin(probed: _*))
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("cid"),
        s"expected a cid partition filter at the scan; plan:\n${plan.take(1500)}")

      def top3(members: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(desc("c"), col("neighbor_id"))
        members.filter(col("vec_id") =!= 0L)
          .select(col("vec_id").as("neighbor_id"),
            dotSeq(col("e"), typedLit(q.toSeq)).as("c"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("rank").cast("long"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }

      val fromLayout = top3(pruned)
      val fromMemory = top3(asg.filter(col("cid").isin(probed: _*)))
      assert(fromLayout == fromMemory && fromLayout.size == 3,
        s"layout $fromLayout != memory $fromMemory")
    }
  }
}

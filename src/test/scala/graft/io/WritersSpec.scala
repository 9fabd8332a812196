package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

/** The epoch-shuffle shard writer must lay the p16 manifest out
  * physically: shard directories match the manifest's shard assignment,
  * and the rows inside each shard file are stored in the manifest's
  * training order, so a sequential read of one shard IS the epoch's
  * schedule for that shard — no read-time shuffle or sort.
  */
class WritersSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("epochShardWrite: layout equals the p16 manifest, order inside each shard") {
    Writers.withScratchDir(spark, "epoch_shards") { scratch =>
      val out = s"$scratch/e1"
      val docs = Tables(spark, dir, "documents").select("doc_id", "text")
      Writers.epochShardWrite(docs, "doc_id", epoch = 1, shards = 8, out)

      val manifest = graft.SparkEntry.queries("p16_epoch_shuffle")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) // shard, seq, doc_id

      // shard assignment matches the manifest exactly
      val written = spark.read.parquet(out)
      val wAssign = written.select(col("doc_id"), col("shard").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val mAssign = manifest.map { case (sh, _, id) => id -> sh }.toMap
      assert(wAssign == mAssign)

      // within one shard directory the stored row order IS the manifest's
      // seq order (single small file per shard -> one read partition, so
      // parquet returns rows in stored order)
      (0 until 8).foreach { sh =>
        val stored = spark.read.parquet(s"$out/shard=$sh")
          .select("doc_id").collect().map(_.getLong(0)).toSeq
        val expected = manifest.filter(_._1 == sh).sortBy(_._2).map(_._3).toSeq
        assert(stored == expected, s"shard $sh order mismatch")
      }

      // same epoch twice -> identical layout; next epoch -> a different deal
      def assignOf(path: String): Map[Long, Long] =
        spark.read.parquet(path).select(col("doc_id"), col("shard").cast("long"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val out2 = s"$scratch/e1_again"
      Writers.epochShardWrite(docs, "doc_id", epoch = 1, shards = 8, out2)
      assert(assignOf(out2) == wAssign)
      val out3 = s"$scratch/e2"
      Writers.epochShardWrite(docs, "doc_id", epoch = 2, shards = 8, out3)
      assert(assignOf(out3) != wAssign, "epoch 2 must re-deal shards")
    }
  }

  test("compactPartitioned: file count provably shrinks, partition layout and rows survive") {
    // the mechanical half of the s29 lifecycle row: build + append leave
    // a fragmented partitioned artifact; the maintenance rewrite must
    // (a) cut the per-partition file count, (b) keep the hive layout
    // that serving's partition pruning depends on, (c) move no values
    Writers.withScratchDir(spark, "cmp") { scratch =>
      val (src, dst) = (s"$scratch/src", s"$scratch/t")
      val rows = spark.range(200)
        .select(col("id"), (col("id") % 4).cast("int").as("k"))
      // two fragmenting writes — the append-maintenance pattern
      Writers.parquetPartitioned(rows.filter(col("id") < 150), src,
        Seq("k"), targetFileCount = 4)
      Writers.parquetPartitioned(rows.filter(col("id") >= 150), src,
        Seq("k"), targetFileCount = 4, mode = "append")

      def parquetFiles(path: String): Seq[java.io.File] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
          else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
        walk(new java.io.File(path))
      }
      val before = parquetFiles(src)
      Writers.compactPartitioned(spark, src, dst, Seq("k"), targetFileCount = 1)
      val after = parquetFiles(dst)
      assert(after.size < before.size,
        s"compaction must shrink the listing: ${before.size} -> ${after.size}")
      // one file per partition dir at targetFileCount=1
      val perDir = after.groupBy(_.getParentFile.getName)
      assert(perDir.keySet == (0 until 4).map(k => s"k=$k").toSet,
        s"hive layout must survive compaction; got ${perDir.keySet}")
      assert(perDir.values.forall(_.size == 1),
        s"expected 1 file per partition; got ${perDir.view.mapValues(_.size).toMap}")
      // values untouched
      val a = spark.read.parquet(src).collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      val b = spark.read.parquet(dst).collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      assert(a == b, "compaction must not change rows")
    }
  }
}

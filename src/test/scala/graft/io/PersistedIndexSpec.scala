package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the two properties the s23/s24 persisted-index lifecycle hangs
  * on (beyond the oracle rows, which prove end-to-end result parity):
  *
  *  1. ROUND-TRIP EXACTNESS — double arrays (centroids, codebook
  *     entries, posting vectors) come back from parquet bit-identical,
  *     and the hive partition column (label) comes back with its
  *     original integer type. This is why serving from the artifact can
  *     be hash-equal to serving in-memory.
  *
  *  2. PRUNED SERVING — a probe joining the label-partitioned postings
  *     through a broadcast of selected labels plans DYNAMIC PARTITION
  *     PRUNING on the scan: only the probed label= directories are
  *     read. At 100 TB this IS the inverted-list seek — the corpus-
  *     sized artifact is never scanned whole per query batch.
  */
class PersistedIndexSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned postings round-trip: bit-exact doubles, typed partition column") {
    Writers.withScratchDir(spark, "pidx_rt") { tmp =>
      val v = Seq(
        (0L, 3, Array(0.1 + 0.2, 1.0 / 3.0, math.Pi)), // non-representable doubles
        (1L, 3, Array(1e-300, -0.0, 2.0 / 7.0)),
        (2L, 5, Array(0.30000000000000004, 0.6661338147750939, -1.5)))
        .toDF("vec_id", "label", "e")
      Writers.parquetPartitioned(v, tmp, Seq("label"))
      val back = spark.read.parquet(tmp)
      assert(back.schema("label").dataType == v.schema("label").dataType,
        "partition column must come back with its original integer type")
      val want = v.select("vec_id", "e").as[(Long, Array[Double])]
        .collect().sortBy(_._1).map { case (id, a) => (id, a.toSeq.map(java.lang.Double.doubleToRawLongBits)) }
      val got = back.select("vec_id", "e").as[(Long, Array[Double])]
        .collect().sortBy(_._1).map { case (id, a) => (id, a.toSeq.map(java.lang.Double.doubleToRawLongBits)) }
      assert(got.toSeq == want.toSeq, "doubles must round-trip parquet bit-exactly")
    }
  }

  test("direct-path read of probed bucket= dirs ≡ isin-filtered full read, and lists ONLY them (the r14 s28 serve)") {
    // s28 serves from 2^7 bucket= dirs; r14 reads the probed dirs
    // DIRECTLY (basePath + per-dir paths) instead of listing the whole
    // table and pruning. Pin both halves: value equality with the old
    // isin-filtered full read, and a file index whose root paths are
    // exactly the probed dirs (nothing else is even listed).
    Writers.withScratchDir(spark, "pidx_direct") { tmp =>
      val post = (0L until 64L).map(i => (i, (i % 8).toInt)).toDF("vec_id", "bucket")
      Writers.parquetPartitioned(post, tmp, Seq("bucket"), targetFileCount = 2)
      val probed: Array[Any] = Array(2, 5)
      val direct = spark.read.option("basePath", tmp)
        .parquet(probed.map(b => s"$tmp/bucket=$b"): _*)
        .where(col("bucket").isin(probed: _*))
      val full = spark.read.parquet(tmp).where(col("bucket").isin(probed: _*))
      assert(direct.schema("bucket").dataType == full.schema("bucket").dataType,
        "basePath read must surface the typed partition column")
      val key = (df: org.apache.spark.sql.DataFrame) =>
        df.select("vec_id", "bucket").as[(Long, Int)].collect().sorted.toSeq
      assert(key(direct) == key(full), "direct-path read must return the same rows")
      val roots = direct.queryExecution.executedPlan.collectWithSubqueries {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head.relation.location.rootPaths.map(_.getName).toSet
      assert(roots == Set("bucket=2", "bucket=5"),
        s"file index must be rooted at ONLY the probed dirs, got $roots")
    }
  }

  test("empty probe set: isin() with no values is false-for-all (the s23 degenerate path)") {
    // s23/s24/s25 prune the postings listing with isin(probed: _*) from a
    // driver collect; an empty query batch yields an empty IN list. Pin
    // Spark's semantics: it neither throws nor matches anything — the
    // serve path degenerates to the correct empty frame.
    Writers.withScratchDir(spark, "pidx_empty") { tmp =>
      val post = (0L until 20L).map(i => (i, (i % 4).toInt)).toDF("vec_id", "label")
      Writers.parquetPartitioned(post, tmp, Seq("label"), targetFileCount = 4)
      val probed = Array.empty[Any]
      val pruned = spark.read.parquet(tmp).where(col("label").isin(probed: _*))
      assert(pruned.count() == 0L, "empty IN list must evaluate false for every row")
    }
  }

  test("append-mode partitioned write leaves base files untouched; per-partition compact preserves rows (the s26 maintenance contract)") {
    Writers.withScratchDir(spark, "pidx_append") { scratch =>
      val (tmp, tmpC) = (s"$scratch/postings", s"$scratch/compact")
      val conf = spark.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(conf)
      def dataFiles(dir: String): Map[String, (Long, Long)] = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
        val b = Map.newBuilder[String, (Long, Long)]
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet"))
            b += st.getPath.toString -> ((st.getLen, st.getModificationTime))
        }
        b.result()
      }
      val all = (0L until 40L).map(i => (i, (i % 4).toInt))
      val base = all.filter(_._1 % 5 != 0).toDF("vec_id", "cid")
      val delta = all.filter(_._1 % 5 == 0).toDF("vec_id", "cid")
      Writers.parquetPartitioned(base, tmp, Seq("cid"), targetFileCount = 4)
      val baseFiles = dataFiles(tmp)
      Writers.parquetPartitioned(delta, tmp, Seq("cid"), targetFileCount = 4,
        mode = "append")
      val afterFiles = dataFiles(tmp)
      // append ADDED files; every base file survives byte-identical
      assert(afterFiles.size > baseFiles.size, "append must add new files")
      baseFiles.foreach { case (p, meta) =>
        assert(afterFiles.get(p).contains(meta),
          s"append must not rewrite base file $p")
      }
      // merged listing serves base ∪ delta
      val got = spark.read.parquet(tmp).select("vec_id")
        .as[Long].collect().sorted.toSeq
      assert(got == (0L until 40L).toSeq, "merged read must equal base ∪ delta")
      // per-partition compaction (the small-file cure appends accumulate
      // toward): same rows, fewer files
      val src = s"$tmp/cid=0"
      Writers.compact(spark, src, tmpC, targetFiles = 1)
      val want = spark.read.parquet(src).select("vec_id")
        .as[Long].collect().sorted.toSeq
      val gotC = spark.read.parquet(tmpC).select("vec_id")
        .as[Long].collect().sorted.toSeq
      assert(gotC == want, "compaction must preserve rows exactly")
      assert(dataFiles(tmpC).size == 1, "compaction must hit the file target")
    }
  }

  test("sign-LSH buckets recomputed from the re-read hyperplane artifact equal the compiled-in literals (the s28 contract)") {
    import graft.functions.VecFns._
    Writers.withScratchDir(spark, "pidx_lsh") { tmp =>
      val planes = spark.createDataFrame(
        (0 until LshPlanes).map(j => (j, 1L << j, hyperplaneN(j, LshDim))))
        .toDF("j", "w", "hp")
      Writers.parquet(planes, tmp)
      val planesRe = spark.read.parquet(tmp)
      // vectors spread across sign boundaries (deterministic)
      val vs = (0 until 64).map { i =>
        (i.toLong, Array.tabulate(LshDim)(d => math.sin(i * 97.0 + d)))
      }.toDF("vec_id", "e")
      val fromLiterals = vs
        .select(col("vec_id"), lshBucket(col("e")).as("b"))
        .as[(Long, Long)].collect().toMap
      val fromArtifact = vs.crossJoin(broadcast(planesRe))
        .select(col("vec_id"),
          when(dotSeq(col("hp"), col("e")) > 0.0, col("w"))
            .otherwise(lit(0L)).as("bit"))
        .groupBy("vec_id").agg(sum("bit").as("b"))
        .as[(Long, Long)].collect().toMap
      assert(fromArtifact == fromLiterals,
        "buckets from the round-tripped hyperplanes must be bit-identical " +
          "to the compiled-in literals — the s28 from-disk ≡ in-memory hinge")
      assert(fromLiterals.values.toSet.size > 1, "fixture must span buckets")
    }
  }

  test("serving join over label-partitioned postings plans dynamic partition pruning") {
    Writers.withScratchDir(spark, "pidx_dpp") { scratch =>
      val (tmp, tmpProbe) = (s"$scratch/postings", s"$scratch/probe")
      val post = (0L until 200L).map(i => (i, (i % 10).toInt, i * 0.5))
        .toDF("vec_id", "label", "x")
      // targetFileCount: one file per label directory, so numFiles below
      // counts pruned DIRECTORIES exactly
      Writers.parquetPartitioned(post, tmp, Seq("label"), targetFileCount = 10)
      // the probe side must be a SELECTIVELY FILTERED relation (the s23
      // shape: queries filtered from the raw store) — Spark's
      // PartitionPruning rule requires a selective predicate on the
      // filtering side; a bare LocalRelation doesn't qualify
      Writers.parquet(Seq((100L, 3), (101L, 7), (102L, 3), (999L, 9))
        .toDF("query_id", "best_label"), tmpProbe)
      // AQE off for this plan only: the DPP path is identical, but the
      // final plan stays inspectable (no QueryStageExec nesting between
      // collect() and the scan metrics)
      val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // finally-restore: the session is JVM-wide shared across suites — a
      // failing assert must not leave AQE off for every later suite
      try {
        val back = spark.read.parquet(tmp)
        val best = spark.read.parquet(tmpProbe).filter(col("query_id") < 200L)
        val served = back.join(broadcast(best), col("label") === col("best_label"))
        val plan = served.queryExecution.executedPlan.toString
        assert(plan.contains("dynamicpruning"),
          s"expected DPP on the partitioned postings scan; plan:\n${plan.take(3000)}")
        // (labels 3 and 7 → 20 rows each, ×2 and ×1 probes). collect() so
        // the metrics below come from THIS DataFrame's own execution
        assert(served.collect().length == 60)
        // and the pruning is REAL, not just planned: the executed scan must
        // have LISTED only the 2 probed label= directories (one file each)
        val scans = served.queryExecution.executedPlan.collectWithSubqueries {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.endsWith("/postings")) => s
        }
        assert(scans.nonEmpty, "postings FileSourceScan not found in executed plan")
        val filesRead = scans.head.metrics("numFiles").value
        assert(filesRead == 2L,
          s"DPP must prune the listing to the 2 probed partitions, read $filesRead files")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      }
    }
  }
}

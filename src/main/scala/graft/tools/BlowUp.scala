package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic K× test-data blow-up for the SCALE.md stress run
  * (VERDICT r12/r13's standing ask). Not part of the driver contract.
  *
  * Each fact table becomes K disjoint copies with key columns shifted
  * by copy·10⁸ (copy 0 = the original rows byte-identical), built so
  * the WORKLOAD scales linearly instead of degenerating:
  *   - documents: every token of copy k>0 is suffixed "~k", so copies
  *     share NO shingles/tokens — near-dup candidate volume grows ~K,
  *     not K² (ten identical corpora would make every doc a 10-way
  *     duplicate and measure the pair explosion, not the engine);
  *   - embeddings: copy k>0 flips a deterministic per-(copy, dim) sign
  *     pattern — norms (and so L2-normalization) are EXACTLY preserved
  *     while cross-copy cosines decorrelate, keeping near-dup pair
  *     volume ~K·(within-copy pairs);
  *   - events: event_id/user_id shift, ts/type/value/props unchanged —
  *     per-user session structure replicates, window keys now carry K×
  *     the rows (the honest aggregate-scaling case);
  *   - lineitem/orders/customer/supplier/part: all keys shift together,
  *     so the trade/co-purchase graphs become K disjoint copies (K×
  *     nodes and edges, same per-copy topology);
  *   - region/nation: dimensions, copied unchanged.
  *
  * Usage: runMain graft.tools.BlowUp [inDir] [outDir] [K]
  */
object BlowUp {
  private val Stride = 100000000L // 10^8: divisible by the %2/%4/%5/%20 slices queries take

  def main(args: Array[String]): Unit = {
    val in = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/scale10x")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    // fixed at 16 task threads: the copies' part-file layout depends on it
    val spark = graft.Sessions.local(16)
    // events.ts may be NANOS-encoded (see Tables) — surface as bigint
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$in/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[blowup] wrote $out/$t.parquet")
    }
    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(c => if (c == 0) df else shift(df, c)).reduce(_ unionByName _)

    write(copies(read("documents")) { (df, c) =>
      df.withColumn("doc_id", col("doc_id") + lit(c * Stride))
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "), t => concat(t, lit(s"~$c")))))
    }, "documents")

    write(copies(read("embeddings")) { (df, c) =>
      val signs = Array.tabulate(64)(d =>
        if (((c * 1315423911L + d * 2654435761L) & 2L) == 0L) 1.0f else -1.0f)
      df.withColumn("vec_id", col("vec_id") + lit(c * Stride))
        .withColumn("embedding",
          zip_with(col("embedding"), lit(signs), (x, s) => (x * s).cast("float")))
    }, "embeddings")

    write(copies(read("events")) { (df, c) =>
      df.withColumn("event_id", col("event_id") + lit(c * Stride))
        .withColumn("user_id", col("user_id") + lit(c * Stride))
    }, "events")

    write(copies(read("lineitem")) { (df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(c * Stride))
        .withColumn("l_partkey", col("l_partkey") + lit(c * Stride))
        .withColumn("l_suppkey", col("l_suppkey") + lit(c * Stride))
    }, "lineitem")
    write(copies(read("orders")) { (df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(c * Stride))
        .withColumn("o_custkey", col("o_custkey") + lit(c * Stride))
    }, "orders")
    write(copies(read("customer")) { (df, c) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(c * Stride))
    }, "customer")
    write(copies(read("supplier")) { (df, c) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(c * Stride))
    }, "supplier")
    write(copies(read("part")) { (df, c) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(c * Stride))
    }, "part")
    write(read("region"), "region")
    write(read("nation"), "nation")
    spark.stop()
  }
}

package graft.ops

import graft.SparkSpec

/** The round loop's session conf: inside [[IterConf.roundLoop]] AQE is
  * off and the shuffle width is sized by the input row count, clamped to
  * [1, the session's width]; afterwards both keys read as before — the
  * prior value back, or unset again — whether the body returns or
  * throws.
  */
class IterConfSpec extends SparkSpec {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Parts = "spark.sql.shuffle.partitions"

  /** (AQE, shuffle width) as the loop body over `rows` rows sees them. */
  private def confInLoop(rows: Long): (String, Int) =
    IterConf.roundLoop(spark.range(rows).toDF("src")) { (_, n) =>
      assert(n == rows)
      (spark.conf.get(Aqe), spark.conf.get(Parts).toInt)
    }

  /** Whether each key is set on the session, and to what. */
  private def snapshot: Seq[Option[String]] =
    Seq(Aqe, Parts).map(spark.conf.getAll.get)

  /** Runs `body` with the two keys set to `aqe` and `parts` (None:
    * unset), restoring the session's own settings afterwards.
    */
  private def withKeys(aqe: Option[String], parts: Option[String])(body: => Unit): Unit = {
    val saved = snapshot
    def put(vs: Seq[Option[String]]): Unit = Seq(Aqe, Parts).zip(vs).foreach {
      case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    put(Seq(aqe, parts))
    try body finally put(saved)
  }

  test("AQE is off and the width is ceil(rows / 65536), clamped to [1, the session's]") {
    val R = IterConf.RowsPerPartition
    withKeys(Some("true"), Some("3")) {
      assert(confInLoop(0) == (("false", 1)))
      assert(confInLoop(1) == (("false", 1)))
      assert(confInLoop(R) == (("false", 1)))
      assert(confInLoop(R + 1) == (("false", 2)))
      assert(confInLoop(2 * R + 1) == (("false", 3)))
      assert(confInLoop(5 * R) == (("false", 3)))
    }
  }

  test("both keys get their prior value back, on return and on throw") {
    withKeys(Some("true"), Some("7")) {
      val before = snapshot
      confInLoop(10)
      assert(snapshot == before)
      intercept[IllegalStateException](
        IterConf.roundLoop(spark.range(10).toDF("src")) { (_, _) =>
          throw new IllegalStateException("round failed")
        })
      assert(snapshot == before)
    }
  }

  test("keys the session never set are unset again, on return and on throw") {
    withKeys(None, None) {
      assert(snapshot == Seq(None, None))
      confInLoop(10)
      assert(snapshot == Seq(None, None))
      intercept[IllegalStateException](
        IterConf.roundLoop(spark.range(10).toDF("src")) { (_, _) =>
          throw new IllegalStateException("round failed")
        })
      assert(snapshot == Seq(None, None))
    }
  }
}

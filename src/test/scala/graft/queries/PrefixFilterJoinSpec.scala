package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.io.Writers

/** Pins d20's defining property — prefix filtering is EXACT: the
  * candidate pruning (rarest-first prefixes + length filter) may drop
  * pairs, but never a pair whose 3-gram Jaccard meets the 0.6 threshold.
  * The spec computes the brute-force all-pairs answer in plain Scala on
  * a corpus crafted to stress the pruning:
  *   - true near-dups (one-word edits of a shared sentence; pair (1,2)
  *     lands EXACTLY at the 0.6 boundary — 6 shared of 8+8 trigrams —
  *     so the integer gate's >= is exercised, not just cleared),
  *   - docs overlapping only in globally-frequent shingles,
  *   - length-skewed pairs (prefix sizes differ),
  *   - an exact duplicate (jaccard 1.0).
  */
class PrefixFilterJoinSpec extends SparkSpec {

  private val corpus: Seq[(Long, String)] = Seq(
    1L -> "the quick brown fox jumps over the lazy dog today",
    2L -> "the quick brown fox jumps over the lazy cat today",  // near-dup of 1
    3L -> "the quick brown fox jumps over the lazy dog today",  // exact dup of 1
    4L -> "alpha beta gamma delta epsilon zeta eta theta",
    5L -> "alpha beta gamma delta epsilon zeta eta iota",       // near-dup of 4
    6L -> "the of and a to in is it",                           // hot words only
    7L -> "the of and a to in is was",                          // hot words only
    8L -> "completely different content about spark engines",
    9L -> "the quick brown fox jumps over the lazy dog today and then some more trailing words here"
  )

  private def trigrams(text: String): Set[String] = {
    val t = text.split(" ", -1)
    (0 until math.max(t.length - 2, 0))
      .map(i => t(i) + " " + t(i + 1) + " " + t(i + 2)).toSet
  }

  private def brute(): Set[(Long, Long, Double)] = {
    val sets = corpus.map { case (id, tx) => id -> trigrams(tx) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      i = (sa intersect sb).size
      na = sa.size; nb = sb.size
      if i * 8 >= (na + nb) * 3
      j = i.toDouble / (na + nb - i)
    } yield (a, b, math.floor(j * 1e6 + 0.5) / 1e6)).toSet
  }

  /** `docs` as the documents table under `dir`. */
  private def writeDocs(docs: Seq[(Long, String)], dir: String): String = {
    writeTableFile(spark.createDataFrame(docs.map { case (id, tx) =>
      (id, tx, "en", "spec", tx.length.toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars"), dir, "documents")
    dir
  }

  test("d20 equals the brute-force all-pairs answer (zero false negatives)") {
    val dir = writeDocs(corpus, fixtureDir("d20_fix").toString)
    val got = SparkEntry.queries("d20_prefix_filter_join")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val want = brute()
    assert(want.nonEmpty, "fixture must produce qualifying pairs")
    // sanity on the crafted structure: dup + near-dups qualify, the
    // hot-word-only pair does too (8 shared bigrams of 8/8? no — check
    // against brute, which is the spec), and brute is authoritative
    assert(got == want,
      s"missing=${(want -- got).toSeq.sorted}, extra=${(got -- want).toSeq.sorted}")
    assert(got.contains((1L, 3L, 1.0)), "exact duplicate pair must score 1.0")
    assert(got.exists(p => p._1 == 1L && p._2 == 2L), "near-dup 1-2 must survive")
  }

  test("randomized corpora: prefix-filter == brute force (seeded)") {
    // seeded generator; every corpus plants near-dups by mutating 1-2
    // words of earlier docs, so qualifying pairs exist and the check
    // catches BOTH false negatives (a dropped candidate) and false
    // positives (a broken verify gate)
    val rnd = new scala.util.Random(421)
    for (trial <- 1 to 3) {
      val vocab = (0 until 25).map(i => s"w$i")
      val bases = (1 to 12).map { id =>
        id.toLong -> Seq.fill(8 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      val mutants = (1 to 6).map { j =>
        val (srcId, text) = bases(rnd.nextInt(bases.size))
        val w = text.split(" ")
        val k = rnd.nextInt(w.length)
        w(k) = vocab(rnd.nextInt(vocab.size))
        (100L + j, w.mkString(" "))
      }
      val corpus = bases ++ mutants
      val sets = corpus.map { case (id, tx) => id -> trigrams(tx) }
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        i = (sa intersect sb).size
        if i * 8 >= (sa.size + sb.size) * 3
        j = i.toDouble / (sa.size + sb.size - i)
      } yield (a, b, math.floor(j * 1e6 + 0.5) / 1e6)).toSet
      Writers.withScratchDir(spark, s"d20_rand$trial") { base =>
        val got = SparkEntry.queries("d20_prefix_filter_join")(spark, writeDocs(corpus, base))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
        assert(got == want, s"trial $trial: missing=${(want -- got).toSeq.sorted}, " +
          s"extra=${(got -- want).toSeq.sorted}")
      }
    }
  }
}

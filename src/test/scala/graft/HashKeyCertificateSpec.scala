package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CorpusFunctions, DedupFunctions}

/** The hash-key certificate behind the xxhash64-keyed corpus
  * aggregates ([[DedupFunctions.certifiedCounts]]), driven through its
  * string-key fallback by real xxhash64 collisions — no fake hash, no
  * hook. Each pair below shares one `xxhash64` (asserted first, so no
  * test here can pass vacuously), and each corpus is built so that the
  * hash-keyed answer would be wrong: merged counts mark a span that
  * never repeats, score a novel gram as seen, or add a shingle to an
  * intersection.
  */
class HashKeyCertificateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 3-word shingles (jaccardPairsPrefix, ngramNovelty)
  private val shingleA = "g1e72d5c887891ac2 x y"
  private val shingleB = "g43fddcde62a22123 x y"
  // 20-char grams (repeatedSpansChar, k = 20)
  private val charA = "g18ebbce04495981exyz"
  private val charB = "g9fe6388571b1b5adxyz"
  // 10-word grams (repeatedSpans, k = 10)
  private val wordA = "g3d869cd72de16033 a b c d e f g h i"
  private val wordB = "g60bf9ffb7a79d3de a b c d e f g h i"

  private def docs(texts: (Long, String)*): DataFrame = texts.toDF("doc_id", "text")

  private def spans(df: DataFrame, lenCol: String): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"), r.getAs[Long]("span_end"), r.getAs[Long](lenCol))).toSet

  test("the fixture pairs really collide under xxhash64, and differ as strings") {
    for ((a, b) <- Seq(shingleA -> shingleB, charA -> charB, wordA -> wordB)) {
      val r = Seq((a, b)).toDF("a", "b").select(xxhash64(col("a")), xxhash64(col("b"))).head()
      assert(a != b && r.getLong(0) == r.getLong(1), s"$a / $b")
    }
    assert(charA.length == 20 && charB.length == 20)
    assert(wordA.split(" ").length == 10 && wordB.split(" ").length == 10)
  }

  test("certifiedCounts keys on the hash when injective, on the value after a collision") {
    def run(values: Seq[String]): (String, Seq[Long]) = {
      val frame = values.toDF("v").withColumn("h", xxhash64(col("v")))
      val (counts, key) = DedupFunctions.certifiedCounts(frame, "v", "h", "cnt")
      try (key, counts.collect().map(_.getLong(1)).sorted.toSeq)
      finally GraftSqlBridge.checkpointedRdd(counts).foreach(_.unpersist(blocking = true))
    }
    assert(run(Seq("p", "q", "p")) == (("h", Seq(1L, 2L))))
    // hash-keyed, the colliding values would count as one key with 3
    assert(run(Seq(shingleA, shingleB, shingleA)) == (("v", Seq(1L, 2L))))
  }

  test("repeatedSpans on a 10-word collision marks only the real repeat") {
    // A' repeats A; B's only gram collides with A's. Hash-keyed counts
    // would give that hash 3 and mark B too.
    val d = docs(1L -> wordA, 2L -> wordB, 3L -> wordA)
    val out = spans(DedupFunctions.repeatedSpans(d, "doc_id", "text", k = 10), "span_words")
    assert(out == Set((1L, 1L, 10L, 10L), (3L, 1L, 10L, 10L)))
  }

  test("repeatedSpansChar on a 20-char collision marks only the real repeat") {
    val d = docs(1L -> charA, 2L -> charB, 3L -> charA)
    val out = spans(DedupFunctions.repeatedSpansChar(d, "doc_id", "text", k = 20), "span_chars")
    assert(out == Set((1L, 1L, 20L, 20L), (3L, 1L, 20L, 20L)))
    // the hot arm of the Zipf split takes the same (string) key
    val viaHot = spans(DedupFunctions.repeatedSpansChar(d, "doc_id", "text", k = 20, hotMin = 1L), "span_chars")
    assert(viaHot == out)
  }

  test("jaccardPairsPrefix with a colliding shingle equals the naive jaccardPairs") {
    val shared = (1 to 30).map(i => s"w$i").mkString(" ")
    val d = docs(
      // one shingle each, the colliding pair: hash-keyed they would
      // form a Jaccard-1 pair
      1L -> shingleA,
      2L -> shingleB,
      // a real near-dup pair (28 shared of 31 shingles each, J = 28/34)
      // whose last shingles collide: hash-keyed, 29/33
      3L -> s"$shared $shingleA",
      4L -> s"$shared $shingleB",
      5L -> "an unrelated document with its own words only",
    )
    def rows(df: DataFrame): Set[Row] = df.collect().toSet
    val prefix = rows(DedupFunctions.jaccardPairsPrefix(d, "doc_id", "text"))
    assert(prefix == rows(DedupFunctions.jaccardPairs(d, "doc_id", "text")))
    assert(prefix == Set(Row(3L, 4L, 28L, 34L, 0.823529)))
  }

  test("ngramNovelty scores both colliding docs as fully novel, with no error") {
    val out = CorpusFunctions
      .ngramNovelty(docs(1L -> shingleA, 2L -> shingleB), col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(1L -> ((1L, 1L, 1000000L)), 2L -> ((1L, 1L, 1000000L))))
  }

  test("ngramNovelty leaves only its result checkpoint persisted, on the hash path and after a collision") {
    val sc = spark.sparkContext
    for (d <- Seq(docs(1L -> "the cat sat on the mat", 2L -> "the cat sat on a hat"), docs(1L -> shingleA, 2L -> shingleB))) {
      val before = sc.getPersistentRDDs.keySet
      val out = CorpusFunctions.ngramNovelty(d, col("doc_id"), col("text"))
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left == GraftSqlBridge.checkpointedRdd(out).map(_.id).toSet)
      assert(left.size == 1)
      left.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
    }
    // the plan form hands the same release to its caller
    val before = sc.getPersistentRDDs.keySet
    val (plan, release) = CorpusFunctions.ngramNoveltyPlan(docs(1L -> shingleA, 2L -> shingleB), col("doc_id"), col("text"))
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty)
    assert(plan.count() == 2L)
    release()
    assert(sc.getPersistentRDDs.keySet -- before == Set.empty)
  }
}

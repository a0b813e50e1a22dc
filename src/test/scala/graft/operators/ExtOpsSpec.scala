package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ExtOpsSpec extends SparkSpec {
  import spark.implicits._

  val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "tiny"))

  lazy val df = corpus.toDF("doc_id", "text")

  test("dedupExact keeps min id per distinct text") {
    val out = DedupOps.dedupExact(df, Seq("text"), "doc_id")
      .as[(String, Long)].collect().toMap
    assert(out("the quick brown fox jumps over the lazy dog") == 1L)
    assert(out.size == 4)
  }

  test("shingles: k-grams, distinct, short-text empty") {
    val sh = df.select(col("doc_id"),
      DedupOps.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).contains("the quick brown"))
    assert(sh(1L).size == 7)
    assert(sh(5L).isEmpty)
  }

  test("containmentPairs: excerpt scores 1.0 toward its source, not vice versa; df cap bites") {
    val docs = Seq(
      (1L, "a b c d e f g h"),          // source
      (2L, "a b c d"),                  // prefix excerpt of 1
      (3L, "p q r s t u"),              // unrelated
      (4L, "a b c x y z")).toDF("doc_id", "text") // shares one shingle with 1,2
    val out = DedupOps.containmentPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.99, maxDf = 10)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    // excerpt → source fully contained; reverse direction is 2/6
    assert(out((2L, 1L)) == 1.0)
    assert(!out.contains((1L, 2L)))
    assert(!out.keys.exists { case (a, b) => a == 3L || b == 3L })
    // "a b c" appears in docs 1, 2, 4: with maxDf = 2 it is dropped, so
    // doc 2's denominator shrinks to its remaining shingle "b c d" —
    // still fully contained in doc 1; doc 4 pairs with nobody
    val capped = DedupOps.containmentPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.99, maxDf = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(capped((2L, 1L)) == 1L) // one shared shingle after the cap
    assert(!capped.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("packSequences: bins concatenate in id order with the EOS separator") {
    val docs = Seq(
      (1L, "a b c", "s"), (2L, "d e", "s"), (3L, "f g h i", "s"))
      .toDF("doc_id", "text", "src")
    // budget 5: doc1(3)+doc2(2) fill bin 0; doc3 starts bin 1
    val out = TextAnalysisOps.packSequences(docs, "doc_id", "text",
        "src", budgetTokens = 5)
      .orderBy("bin")
      .as[(String, Int, Long, Long, String)].collect()
    assert(out.toSeq == Seq(
      ("s", 0, 2L, 5L, "a b c <|eod|> d e"),
      ("s", 1, 1L, 4L, "f g h i")))
  }

  test("gapFillLocf: missing slots appear and carry the last value forward") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10L, "click", 5.0),
      (2L, ts("2024-01-01 11:00:00"), 10L, "click", 2.0),
      // day 2 empty for user 10; day 3 observed again
      (3L, ts("2024-01-03 09:00:00"), 10L, "view", 4.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.gapFillLocf(ev, 86400L)
      .orderBy("slot")
      .as[(Long, Long, Boolean, Double)].collect().toSeq
    val day = 86400L
    val d1 = ts("2024-01-01 00:00:00").getTime / 1000
    assert(out == Seq(
      (10L, d1, true, 7.0),           // both day-1 events summed
      (10L, d1 + day, false, 7.0),    // gap day: carried forward
      (10L, d1 + 2 * day, true, 4.0)))
  }

  test("trailingRangeSum: time-distance frame includes only in-window events") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10L, "click", 1.0),
      (2L, ts("2024-01-01 10:20:00"), 10L, "click", 2.0),
      (3L, ts("2024-01-01 10:45:00"), 10L, "click", 4.0), // ev1 out of 30m
      (4L, ts("2024-01-01 12:00:00"), 10L, "click", 8.0)) // alone
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.trailingRangeSum(ev, 1800L)
      .select("event_id", "trailing_sum")
      .as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 1.0, 2L -> 3.0, 3L -> 6.0, 4L -> 8.0))
  }

  test("intervalOverlapJoin: equals the predicate join, each pair exactly once") {
    // intervals crafted to cross bin boundaries (bin = 10): containment,
    // partial overlap both sides, touch-at-endpoint (half-open: NO
    // match), disjoint, multi-bin span
    val a = Seq((1L, 0L, 25L), (2L, 12L, 18L), (3L, 30L, 40L),
      (4L, 5L, 6L)).toDF("a_id", "a_start", "a_end")
    val b = Seq((10L, 8L, 15L), (20L, 18L, 30L), (30L, 40L, 50L),
      (40L, 3L, 4L)).toDF("b_id", "b_start", "b_end")
    val got = EventOps.intervalOverlapJoin(a, b, binSec = 10L)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    val expected = a.crossJoin(b)
      .filter(col("a_start") < col("b_end") && col("b_start") < col("a_end"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    // same SET and same SIZE: emit-once means no duplicate pairs even
    // when the overlap spans several shared bins
    assert(got.sorted == expected.sorted && got.size == got.distinct.size)
    // (1,40): b40=[3,4) contained in a1; (3,20): a3=[30,40) only
    // TOUCHES b20=[18,30) at the endpoint — half-open excludes it
    assert(got.toSet ==
      Set((1L, 10L), (1L, 20L), (1L, 40L), (2L, 10L)))
    assert(!got.contains((3L, 30L)) && !got.contains((3L, 20L)))
    // the bin-fan-out guard fires in-column
    val long = Seq((9L, 0L, 10000L)).toDF("a_id", "a_start", "a_end")
    val ex = intercept[Exception] {
      EventOps.intervalOverlapJoin(long, b, binSec = 10L,
        maxBinsPerInterval = 16).collect()
    }
    assert(ex.getMessage.contains("over maxBinsPerInterval") ||
      ex.getCause != null &&
        ex.getCause.getMessage.contains("over maxBinsPerInterval"))
    // degenerate intervals fail LOUDLY, both directions: an inverted
    // interval (end < start) would otherwise make hi - lo negative —
    // passing the cap — and sequence(lo, hi) would step -1 into an
    // unbounded fan-out; a zero-length one (end == start) is empty
    // under half-open semantics yet satisfies the pair predicate
    def msgOf(t: Throwable): String = {
      var c = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    for (bad <- Seq((9L, 100L, 3L), (9L, 7L, 7L))) {
      val df = Seq(bad).toDF("a_id", "a_start", "a_end")
      val exd = intercept[Exception] {
        EventOps.intervalOverlapJoin(df, b, binSec = 10L).collect()
      }
      assert(msgOf(exd).contains("empty or inverted interval"),
        s"for $bad got: ${msgOf(exd).take(300)}")
    }
  }

  test("anomalyFlags: integer k-sigma on the trailing frame, self excluded") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // user 10: steady 1.00s then a spike; user 20: thin history
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10L, "c", 1.0),
      (2L, ts("2024-01-01 10:05:00"), 10L, "c", 1.0),
      (3L, ts("2024-01-01 10:10:00"), 10L, "c", 1.0),
      (4L, ts("2024-01-01 10:15:00"), 10L, "c", 50.0), // spike, zero-var base
      (5L, ts("2024-01-01 10:20:00"), 10L, "c", 1.0),  // base now has the spike
      (6L, ts("2024-01-01 10:00:00"), 20L, "c", 9.9))  // no history
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.anomalyFlags(ev, windowSec = 1800L, k = 2L,
        minBase = 3L)
      .select("event_id", "cents", "n_base", "enough_history", "flagged")
      .as[(Long, Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) == ((100L, 0L, false, false)))
    assert(out(2L) == ((100L, 1L, false, false)))
    assert(out(3L) == ((100L, 2L, false, false)))
    // event 4: base {100,100,100}, zero variance, any deviation flags
    assert(out(4L) == ((5000L, 3L, true, true)))
    // event 5: base {100,100,100,5000} — n=4 s=5300 q=25030000;
    // lhs=(4*100-5300)²=24010000; rhs=4*(4*25030000-5300²)=288040000
    assert(out(5L) == ((100L, 4L, true, false)))
    assert(out(6L) == ((990L, 0L, false, false)))
    // model cross-check of the cross-multiplied predicate on event 5
    val (n, x, s, q) = (4L, 100L, 5300L, 25030000L)
    assert(((n * x - s) * (n * x - s) > 4 * (n * q - s * s)) == false)
  }

  test("saltedJoin: equals the plain inner join, including duplicate keys") {
    val big = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"))
      .toDF("k", "v")
    val small = Seq((1L, "X"), (1L, "Y"), (2L, "Z")).toDF("k", "w")
    val salted = graft.operators.SkewOps.saltedJoin(big, small,
        Seq("k"), salts = 4)
      .as[(Long, String, String)].collect().sorted.toSeq
    val plain = big.join(small, Seq("k"))
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(salted == plain && plain.size == 5)
  }

  test("writeByModality: hive layout per kind, pruned modality read") {
    val docs = Seq((0L, "img-bytes"), (1L, "aud-bytes"), (2L, "vid-bytes"),
      (3L, "img2"), (4L, "aud2"), (5L, "vid2")).toDF("id", "payload")
    val assets = MultimodalOps.toAssets(docs, "id", "payload")
    val out = java.nio.file.Files.createTempDirectory("graft-modality")
    MultimodalOps.writeByModality(assets, out.toString)
    // one directory per modality
    import scala.jdk.CollectionConverters._
    val dirs = java.nio.file.Files.list(out).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("kind=")).toSet
    assert(dirs == Set("kind=image", "kind=audio", "kind=video"))
    // a single-modality read sees only its own assets, schema intact
    val img = MultimodalOps.readModality(spark, out.toString, "image")
    // toAssets routes id % 3 == 0 to "image" (1-based element_at)
    assert(img.select("asset_id").as[Long].collect().toSet == Set(0L, 3L))
    assert(img.columns.contains("content"))
  }

  test("aggState/mergeAggState: delta merge equals the full aggregate") {
    val hist = Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("k", "v")
    val delta = Seq((1L, 1.0), (3L, 7.0)).toDF("k", "v")
    val merged = EventOps.mergeAggState(
        EventOps.aggState(hist, Seq("k"), "v"), delta, Seq("k"), "v")
      .as[(Long, Long, Double)].collect().toSet
    val full = EventOps.aggState(hist.unionByName(delta), Seq("k"), "v")
      .as[(Long, Long, Double)].collect().toSet
    assert(merged == full)
    assert(merged == Set((1L, 3L, 31.0), (2L, 1L, 5.0), (3L, 1L, 7.0)))
  }

  test("spanDedup: first occurrence survives, repeats collapse, reassembly exact") {
    // 2-word spans: doc 1 = [a b][c d][a b] (internal repeat), doc 2
    // copies doc 1's first span then adds new material, doc 3 is clean.
    val docs = Seq(
      (1L, "a b c d a b"),
      (2L, "a b x y"),
      (3L, "p q r")).toDF("doc_id", "text")
    val out = DedupOps.spanDedup(docs, "doc_id", "text", segWords = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def fp(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    // doc 1: 3 spans, third repeats the first → 2 kept, text "a b c d"
    assert(out(1L) == ((3L, 2L, fp("a b c d"))))
    // doc 2: "a b" already owned by doc 1 → only "x y" survives
    assert(out(2L) == ((2L, 1L, fp("x y"))))
    // doc 3: ragged tail span "r" kept whole
    assert(out(3L) == ((2L, 2L, fp("p q r"))))
  }

  test("exactSubstringStats: prefix/suffix/mid runs found at full variable length") {
    // minTokens = 3. doc 1 owns everything (lowest id). doc 2 copies a
    // 5-token MID run of doc 1 ("b c d e f") into its middle; doc 3
    // copies doc 1's 4-token PREFIX ("a b c d"); doc 4 copies doc 1's
    // 4-token SUFFIX ("e f g h") at its tail; doc 5 shares nothing;
    // doc 6 contains a WITHIN-DOC repeat (its own 3-token run twice).
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "m1 m2 b c d e f m3 m4"),
      (3L, "a b c d z1 z2 z3"),
      (4L, "y1 y2 y3 e f g h"),
      (5L, "u1 u2 u3 u4 u5"),
      (6L, "r s t k1 k2 r s t")).toDF("doc_id", "text")
    val out = DedupOps.exactSubstringStats(docs, "doc_id", "text",
        minTokens = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((8L, 0L, 0L)))       // global first: nothing marked
    assert(out(2L) == ((9L, 5L, 1L)))       // mid run, full 5 tokens
    assert(out(3L) == ((7L, 4L, 1L)))       // prefix run, full 4 tokens
    assert(out(4L) == ((7L, 4L, 1L)))       // suffix run, full 4 tokens
    assert(out(5L) == ((5L, 0L, 0L)))       // clean
    assert(out(6L) == ((8L, 3L, 1L)))       // within-doc repeat, 2nd copy
    // two DISJOINT shared runs in one doc stay two runs
    val two = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c q1 q2 q3 f g h")).toDF("doc_id", "text")
    val o2 = DedupOps.exactSubstringStats(two, "doc_id", "text", 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(o2(2L) == ((9L, 6L, 2L)))
    // runs shorter than the floor are invisible
    val shortRun = Seq(
      (1L, "a b c d"),
      (2L, "a b x y")).toDF("doc_id", "text")
    val o3 = DedupOps.exactSubstringStats(shortRun, "doc_id", "text", 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(o3(2L) == ((4L, 0L, 0L)))
  }

  test("exactSubstringStatsIncremental: banked grams mark every batch occurrence, batch-only grams keep-first") {
    val bank = java.nio.file.Files
      .createTempDirectory("graft-substr-bank-spec").toString
    // standing corpus owns "a b c d e f" (and all its 3-grams)
    val standing = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    DedupOps.substrBankBuild(standing, bank, "doc_id", "text",
      minTokens = 3, buckets = 8)
    val batch = Seq(
      // class a: carries the banked run mid-doc — BOTH its
      // occurrences mark (generation order: the bank always wins,
      // even over the batch's own internal first)
      (1L, "x1 b c d x2 b c d"),
      // class b: a batch-only phrase shared with doc 3 — doc 1 < 3
      // is absent here so doc 2 keeps it, doc 3 marks it
      (2L, "q r s t u1 u2"),
      (3L, "v1 q r s t v2"),
      // clean
      (4L, "z1 z2 z3 z4")).toDF("doc_id", "text")
    val out = DedupOps.exactSubstringStatsIncremental(batch, bank,
        "doc_id", "text", minTokens = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: "b c d" banked -> marked at p=1 and p=5: two 3-runs
    assert(out(1L) == ((8L, 6L, 2L)), out.toString)
    // doc 2: "q r s t" is batch-first -> kept entirely
    assert(out(2L) == ((6L, 0L, 0L)))
    // doc 3: shares the 4-token run with doc 2 -> marked [1,5)
    assert(out(3L) == ((6L, 4L, 1L)))
    assert(out(4L) == ((4L, 0L, 0L)))
    // a production ingest loop can legitimately receive an empty (or
    // all-null-text) batch: both bank probes must return empty, not
    // NPE on the null bloom-size aggregate (advisor r16)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(DedupOps.exactSubstringStatsIncremental(
      empty, bank, "doc_id", "text", minTokens = 3).count() == 0L)
    assert(DedupOps.gramNoveltyReport(
      empty, bank, "doc_id", "text", minTokens = 3).count() == 0L)
    val allNull = Seq((9L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(DedupOps.exactSubstringStatsIncremental(
      allNull, bank, "doc_id", "text", minTokens = 3).count() == 0L)
    assert(DedupOps.gramNoveltyReport(
      allNull, bank, "doc_id", "text", minTokens = 3).count() == 0L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bank))
  }

  test("segmentGen: native segmenter matches the declarative spec row-for-row") {
    val docs = Seq(
      (1L, "a b c d a b"),          // even split
      (2L, "p q r"),                // ragged tail
      (3L, "solo"),                 // fewer words than a segment
      (4L, ""),                     // empty string → one empty segment
      (5L, "a  b"),                 // empty token kept (double space)
      (6L, "héllo wörld ünïcode x"),// multi-byte UTF-8 boundaries
      (7L, null.asInstanceOf[String]), // null → no rows
      (8L, " lead trail ")          // leading/trailing empties
    ).toDF("doc_id", "text")
    for (segWords <- Seq(1, 2, 3)) {
      val native = docs.select(col("doc_id"),
        posexplode(graft.functions.ShingleGen.segmentArray(
          col("text"), segWords)).as(Seq("seg_idx", "seg")))
        .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2))
      val spec = DedupOps.segmentsDeclarative(docs, "doc_id", "text", segWords)
        .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2))
      assert(native.toSeq == spec.toSeq, s"segWords=$segWords")
    }
  }

  test("gramBuckets: fused generator matches the declarative md5 bucket chain") {
    // the tx33 kernel contract: one pass emitting unigram+bigram bucket
    // ids must equal the two-generator union followed by the
    // conv(substring(md5(seed||gram),1,8),16,10) % buckets projection
    // on every edge the word splitter has (empty string → one empty
    // unigram and no bigram; empty tokens kept; multi-byte UTF-8
    // boundaries; null → no rows)
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "solo"),
      (3L, ""),
      (4L, "a  b"),
      (5L, "héllo wörld ünïcode"),
      (6L, null.asInstanceOf[String]),
      (7L, "x y x y x")
    ).toDF("id", "text")
    val buckets = 64
    val seedPrefix = "dsir_"
    val uni = docs.select(col("id"), graft.functions.ShingleGen
      .shingleGen(col("text"), 1, distinct = false)).toDF("id", "_g")
    val bi = docs.select(col("id"), graft.functions.ShingleGen
      .shingleGen(col("text"), 2, distinct = false)).toDF("id", "_g")
    val declarative = uni.unionByName(bi)
      .select(col("id"), (conv(substring(
        md5(concat(lit(seedPrefix), col("_g"))), 1, 8), 16, 10)
        .cast("long") % buckets).as("_b"))
      .as[(Long, Long)].collect().toSeq.sorted
    val native = docs.select(col("id"), graft.functions.ShingleGen
      .gramBuckets(col("text"), Seq(1, 2), buckets, seedPrefix))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(native == declarative)
  }

  test("kmeans: well-separated groups converge to distinct clusters, deterministically") {
    // two orthogonal bundles (9 + 11 — unbalanced so the md5 init is
    // not degenerate-symmetric) with off-axis per-vector jitter
    val rows = (0 until 20).map { i =>
      val v = Array.fill(4)(0f)
      if (i < 9) v(0) = 1f else v(1) = 1f
      v(2) = 0.01f * (i % 5)
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = SimilarityOps.kmeans(df, k = 2, iters = 3)
      .as[(Long, Int)].collect().toMap
    val g1 = (0 until 9).map(i => out(i.toLong)).toSet
    val g2 = (9 until 20).map(i => out(i.toLong)).toSet
    assert(g1.size == 1 && g2.size == 1 && g1 != g2)
    // deterministic: a second run yields the identical assignment
    val again = SimilarityOps.kmeans(df, k = 2, iters = 3)
      .as[(Long, Int)].collect().toMap
    assert(again == out)
  }

  test("productQuantize: valid deterministic codes; identical vectors share codes") {
    val rows = (0 until 20).map { i =>
      // id 19 duplicates id 0's vector exactly
      val src = if (i == 19) 0 else i
      (i.toLong, (0 until 8).map(j =>
        ((src * 17 + j) % 10) / 10f).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = SimilarityOps.productQuantize(df, m = 2, subDim = 4,
        k = 3, iters = 2)
      .as[(Long, Seq[Int])].collect().toMap
    assert(out.size == 20)
    assert(out.values.forall(c => c.length == 2 &&
      c.forall(x => x >= 0 && x < 3)))
    assert(out(19L) == out(0L)) // same vector → same code
    val again = SimilarityOps.productQuantize(df, m = 2, subDim = 4,
        k = 3, iters = 2)
      .as[(Long, Seq[Int])].collect().toMap
    assert(again == out)
  }

  test("pqAdcTopK: coded search ranks same-bundle neighbors first") {
    val rows = (0 until 12).map { i =>
      val j = 0.01f * (i % 3)
      val v = if (i < 6) Seq(1f, j, 1f, j) else Seq(j, 1f, j, 1f)
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val (codes, books) = SimilarityOps.pqTrain(df, m = 2, subDim = 2,
      k = 2, iters = 2)
    assert(codes.count() == 12)
    assert(books.count() <= 4) // m x k codebook rows at most
    val out = SimilarityOps.pqAdcTopK(df.filter(col("vec_id") === 0),
        codes, books, topK = 3, m = 2, subDim = 2)
      .select("neighbor_id").as[Long].collect().toSet
    // every top hit for a bundle-A query is a bundle-A member
    assert(out.nonEmpty && out.forall(_ < 6), out.toString)
  }

  test("pqAdcRerank: equals brute force when the shortlist covers the corpus; subset of shortlist otherwise") {
    val rows = (0 until 12).map { i =>
      val j = 0.01f * (i % 3)
      val v = if (i < 6) Seq(1f, j, 1f, j) else Seq(j, 1f, j, 1f)
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") === 0)
    val (codes, books) = SimilarityOps.pqTrain(df, m = 2, subDim = 2,
      k = 2, iters = 2)
    // shortlist >= corpus: the ADC stage filters nothing, so the exact
    // re-rank must reproduce brute force (same kernel, same tiebreak)
    val full = SimilarityOps.pqAdcRerank(q, df, codes, books,
        shortlist = 12, topK = 3, m = 2, subDim = 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSet
    val bf = SimilarityOps.bruteForceTopK(df, q, 3)
      .select(col("neighbor_id"), col("rk").cast("int"))
      .as[(Long, Int)].collect().toSet
    assert(full == bf)
    // narrow shortlist: final picks must come from the ADC shortlist
    val short = SimilarityOps.pqAdcTopK(q, codes, books, topK = 4,
        m = 2, subDim = 2)
      .select("neighbor_id").as[Long].collect().toSet
    val rr = SimilarityOps.pqAdcRerank(q, df, codes, books,
        shortlist = 4, topK = 2, m = 2, subDim = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(rr.subsetOf(short) && rr.size == 2)
    intercept[IllegalArgumentException] {
      SimilarityOps.pqAdcRerank(q, df, codes, books,
        shortlist = 2, topK = 5, m = 2, subDim = 2)
    }
  }

  test("semanticDedup: exact copies drop within their cluster, originals survive") {
    val rows = (0 until 12).map { i =>
      val v = Array.fill(4)(0f)
      if (i < 5) v(0) = 1f else v(1) = 1f
      v(2) = 0.01f * i
      (i.toLong, v.toSeq)
    }
    val base = rows.toDF("vec_id", "embedding")
    val copies = base.select((col("vec_id") + 100).as("vec_id"),
      col("embedding"))
    val out = SimilarityOps.semanticDedup(base.unionByName(copies),
        k = 2, iters = 2, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    // each bundle (plus its copies) is a near-dup clique inside one
    // k-means cell at this threshold — greedy keep-first collapses it
    // to its minimum id; no copy (id >= 100) ever survives
    assert(out == Set(0L, 5L))
    // the releasable variant returns the same result and actually
    // frees the checkpointed assignment (Dataset.unpersist would no-op
    // on it — the graft.Release lesson)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // (on the forced-distributed path: the driver path, which this
    // input would take, makes no checkpoint)
    val (ded, release) = SimilarityOps.semDedupReleasable(
      base.unionByName(copies), k = 2, iters = 2, threshold = 0.95,
      "vec_id", "embedding", localMaxRows = -1)
    assert(ded.select("vec_id").as[Long].collect().toSet == Set(0L, 5L))
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("semanticDedup: the driver path matches the distributed path on seeded vectors") {
    val rnd = new scala.util.Random(23)
    val dim = 8
    def gauss(): Array[Double] = Array.fill(dim)(rnd.nextGaussian())
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // ids, vectors; a null vector is a failed embedding
    val base = (0 until 60).map(i => (i.toLong, gauss().map(_.toFloat)))
    val copies = base.take(10).map { case (i, v) => (i + 1000, v.clone) }
    // pairs whose cosine sits within ±1.5e-4 of the threshold: rounded
    // to 4 decimals, some reach 0.95 and some stop at 0.9499
    val near = base.slice(10, 40).zipWithIndex.map { case ((i, v), j) =>
      val u = unit(v.map(_.toDouble))
      val w0 = gauss(); val d = w0.zip(u).map(p => p._1 * p._2).sum
      val w = unit(w0.zip(u).map(p => p._1 - d * p._2))
      val c = 0.95 + (j - 15) * 1e-5
      (i + 2000, u.zip(w).map(p =>
        (c * p._1 + math.sqrt(1 - c * c) * p._2).toFloat))
    }
    val nulls = Seq((3000L, null), (3001L, null), (3002L, Array.empty[Float]))
    val mixed = (base ++ copies ++ near ++ nulls)
      .map { case (i, v) => (i, Option(v).map(_.toSeq).orNull) }
      .toDF("vec_id", "embedding")
    def bothPaths(df: org.apache.spark.sql.DataFrame, k: Int, iters: Int,
                  driver: Boolean = true): Set[Long] = {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      val (local, relL) = SimilarityOps.semDedupReleasable(df, k, iters,
        0.95, "vec_id", "embedding")
      val l = local.select("vec_id").as[Long].collect().toSet
      assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty == driver,
        s"driver path expected: $driver")
      relL()
      val (dist, relD) = SimilarityOps.semDedupReleasable(df, k, iters,
        0.95, "vec_id", "embedding", localMaxRows = -1)
      val d = dist.select("vec_id").as[Long].collect().toSet
      relD()
      assert(l == d, s"driver path keeps ${(l -- d).toSeq.sorted}, " +
        s"distributed keeps ${(d -- l).toSeq.sorted}")
      l
    }
    val kept = bothPaths(mixed, k = 4, iters = 3)
    assert(copies.forall(c => !kept(c._1)), "an exact copy survived")
    assert(Set(3000L, 3001L, 3002L).subsetOf(kept))
    val nearKept = near.map(_._1).count(kept)
    assert(nearKept > 0 && nearKept < near.size,
      s"$nearKept of ${near.size} near-threshold pairs kept")
    // two tight groups under six md5 seed clusters: round 1 pulls every
    // row to one of few centroids, so some seed clusters empty and drop
    // out of the centroid table for round 2
    val groups = (0 until 40).map { i =>
      val v = Array.fill(dim)(0.01f * rnd.nextFloat())
      v(i % 2) = 1f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val seeds = groups.select((conv(substring(md5(col("vec_id")
      .cast("string")), 1, 8), 16, 10).cast("long") % 6).as("c"))
      .distinct().count()
    val afterRound1 = SimilarityOps.kmeans(groups, k = 6, iters = 1)
      .select("cluster").distinct().count()
    assert(seeds == 6 && afterRound1 < 6, s"$seeds seeds, $afterRound1 left")
    bothPaths(groups, k = 6, iters = 3)
    // repeated ids leave the driver path for the distributed one
    bothPaths(mixed.unionByName(mixed.limit(5)), k = 4, iters = 2,
      driver = false)
  }

  test("tfidf: corpus-wide term appears with zero idf; rare term scores high") {
    val docs = Seq(
      (1L, "x x x common"),
      (2L, "y y y common"),
      (3L, "z z z common")).toDF("doc_id", "text")
    val out = TextAnalysisOps.tfidf(docs, "doc_id", "text", minTf = 3)
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // "common" never reaches tf=3; x/y/z each: tf=3, df=1, 3*ln(3)
    assert(out.keySet == Set((1L, "x"), (2L, "y"), (3L, "z")))
    assert(out((1L, "x")) ==
      ((3L, 1L, math.rint(3 * math.log(3.0) * 1e4) / 1e4)))
  }

  test("decontaminateSpans: hit windows excised, overlaps union, full wipe keeps a row") {
    val train = Seq(
      (1L, "a b c d e f"),   // eval grams "b c d" + "c d e" → covers b..e
      (2L, "x y z w q r"),   // untouched
      (3L, "b c d"),         // fully covered → clean_text ""
      (4L, "p b c d e p")).toDF("doc_id", "text")
    val eval_ = Seq((100L, "b c d e")).toDF("doc_id", "text") // grams: "b c d","c d e"
    val out = TextAnalysisOps.decontaminateSpans(train, eval_,
        "doc_id", "text", k = 3)
      .as[(Long, String, Long, Long)].collect()
      .map { case (id, t, n, r) => id -> ((t, n, r)) }.toMap
    assert(out(1L) == (("a f", 6L, 4L)))
    assert(out(2L) == (("x y z w q r", 6L, 0L)))
    assert(out(3L) == (("", 3L, 3L)))
    assert(out(4L) == (("p p", 6L, 4L)))
  }

  test("bm25Retrieve: heap ranking matches the window formulation; no-hit docs absent") {
    val docs = Seq(
      (1L, "join merge hash table"),
      (2L, "join join join scan"),
      (3L, "alpha beta gamma"),
      (4L, "merge join")).toDF("doc_id", "text")
    val qs = Seq(1 -> Seq("join", "merge"), 2 -> Seq("scan"))
    val out = TextAnalysisOps.bm25Retrieve(docs, "doc_id", "text", qs, k = 2)
      .as[(Int, Long, Long, Int)].collect().toSet
    // reference: identical integer milli-score sum, ranked by an
    // explicit row_number window instead of the heap operator
    val scored = TextAnalysisOps.bm25(docs, "doc_id", "text", minTf = 1)
      .select(col("doc_id"), col("term"),
        round(col("bm25") * 10000).cast("long").as("sx"))
    val qdf = qs.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("score_x1e4").desc, col("doc_id").asc)
    val ref = scored.join(qdf, Seq("term"))
      .groupBy("query_id", "doc_id").agg(sum(col("sx")).as("score_x1e4"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .as[(Int, Long, Long, Int)].collect().toSet
    assert(out == ref)
    assert(!out.exists(_._2 == 3L)) // no query term → never retrieved
    assert(out.count(_._1 == 2) == 1) // query 2 matches one doc
  }

  test("lmScore: uniform corpus gives log2(vocab) cross-entropy") {
    // 4 equally-frequent tokens → p = 1/4 each → cross-entropy = 2 bits
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val out = TextAnalysisOps.lmScore(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 2L, 2.0), (2L, 2L, 2.0)))
  }

  test("lmScoreBigram: deterministic sequence scores lower than novel one") {
    // "a b" always follows in docs 1-3 → p(b|a) ≈ 1 there; doc 4 pairs
    // the same vocabulary in never-seen orders → higher cross-entropy
    val docs = Seq(
      (1L, "a b a b"), (2L, "a b a b"), (3L, "a b a b"),
      (4L, "b a b a")).toDF("doc_id", "text")
    val out = TextAnalysisOps.lmScoreBigram(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(out(1L) == out(2L)) // same text → same score
    assert(out(4L) > out(1L))  // novel transitions are more surprising
  }

  test("pmiBigrams: perfectly-bound pair scores ln(tb*tu²/(n_ab*n_a*n_b)) > 0") {
    // "new york" always adjacent; "of the" independent-ish filler
    val docs = Seq(
      (1L, "new york new york"),
      (2L, "new york of the of the")).toDF("doc_id", "text")
    val out = TextAnalysisOps.pmiBigrams(docs, "text", minCount = 2)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(out.contains("new york") && out("new york") > 0)
    // cross-check one value against the closed form
    val (tb, tu) = (8.0, 10.0) // 8 bigrams, 10 unigrams total
    val expected = math.log((3 / tb) / ((3 / tu) * (3 / tu)))
    assert(out("new york") == math.rint(expected * 1e4) / 1e4)
  }

  test("minhash LSH: exact dups always pair; near-dups pair; distinct texts don't") {
    val pairs = DedupOps.minhashCandidates(df, "doc_id", "text",
      shingleK = 3, numPerm = 16, bands = 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical → identical signature
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhashEstimatePairs: identical docs estimate 1.0 exactly; near-dups in range") {
    val out = DedupOps.minhashEstimatePairs(df, "doc_id", "text",
        shingleK = 3, numPerm = 16, bands = 4)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // docs 1 and 4 are byte-identical → identical signatures AND sets
    assert(out((1L, 4L)) == ((1.0, 1.0)))
    out.values.foreach { case (est, ex) =>
      assert(est >= 0 && est <= 1 && ex >= 0 && ex <= 1)
    }
  }

  test("native minhash signature is bit-identical to the staged HOF pipeline") {
    val sh = DedupOps.shingles(col("text"), 3)
    val staged = df.filter(size(sh) > 0)
      .select(col("doc_id"), DedupOps.minhashSignature(
        DedupOps.shingleHashes(sh), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val native = df.filter(size(sh) > 0)
      .select(col("doc_id"),
        graft.functions.MinhashSig.minhashSigNative(sh, 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == staged)
    assert(native.keySet == Set(1L, 2L, 3L, 4L)) // doc 5 has no 3-shingle

    val stagedBands = df.filter(size(sh) > 0)
      .select(col("doc_id"), DedupOps.lshBandHashes(
        DedupOps.minhashSignature(DedupOps.shingleHashes(sh), 16), 4, 4)
        .as("b")).as[(Long, Seq[String])].collect().toMap
    val fusedBands = df
      .select(col("doc_id"),
        graft.functions.MinhashSig.minhashBandsNative(sh, 16, 4).as("b"))
      .filter(col("b").isNotNull)
      .as[(Long, Seq[String])].collect().toMap
    assert(fusedBands == stagedBands)
  }

  test("shingle generator matches declarative explode (distinct and not) on tricky inputs") {
    val tricky = Seq(
      (1L, "a  double  space"), (2L, "dup dup dup"), (3L, "héllo wörld x y"),
      (4L, "one"), (5L, ""), (6L, "dup dup dup dup dup x"),
      (7L, null.asInstanceOf[String])).toDF("doc_id", "text")
    for (k <- Seq(1, 2, 3)) {
      val declDistinct = tricky.select(col("doc_id"),
        explode(if (k == 1) DedupOps.words(col("text"))
                else DedupOps.shingles(col("text"), k)).as("s"))
        .as[(Long, String)].collect().toSeq.sorted
      val gen = tricky.select(col("doc_id"),
        graft.functions.ShingleGen.shingleGen(col("text"), k, distinct = true))
        .as[(Long, String)].collect().toSeq.sorted
      assert(gen == declDistinct, s"k=$k distinct")
    }
    // non-distinct keeps duplicates in order
    val dups = tricky.filter(col("doc_id") === 2L).select(
      graft.functions.ShingleGen.shingleGen(col("text"), 2, distinct = false))
      .as[String].collect().toSeq
    assert(dups == Seq("dup dup", "dup dup"))
  }

  test("scalar shingle array and min-shingle-md5 match the declarative forms") {
    val tricky = Seq(
      (1L, "a  double  space keeps empty tokens"),
      (2L, "dup dup dup dup"), (3L, "héllo wörld ünïcode bytes"),
      (4L, "one"), (5L, ""), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    for (k <- Seq(1, 2, 3)) {
      val decl = tricky.select(col("doc_id"),
          (if (k == 1) DedupOps.words(col("text"))
           else DedupOps.shingles(col("text"), k)).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
        // declarative words(null) is null, shingles(null) is []; the
        // native form unifies on [] (the k>=2 CASE semantics)
        .map { case (id, v) => id -> Option(v).getOrElse(Seq.empty) }
      val native = tricky.select(col("doc_id"),
          graft.functions.ShingleGen.shingleArray(col("text"), k).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      assert(native == decl, s"k=$k")

      val declFp = tricky.select(col("doc_id"),
          array_min(transform(DedupOps.shingles(col("text"), k), s => md5(s)))
            .as("fp")).as[(Long, Option[String])].collect().toMap
      val nativeFp = tricky.select(col("doc_id"),
          graft.functions.ShingleGen.minShingleMd5(col("text"), k).as("fp"))
        .as[(Long, Option[String])].collect().toMap
      assert(nativeFp == declFp, s"k=$k fp")
    }
  }

  test("whole-pipeline text generator matches staged HOF bands on tricky inputs") {
    val tricky = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a  double  space keeps empty tokens here"), // empty tokens
      (3L, "héllo wörld ünïcode shingle bytes test"),   // multi-byte UTF-8
      (4L, "trailing space run here "),                 // trailing empty
      (5L, "dup dup dup dup dup"),                      // duplicate shingles
      (6L, "two words"),                                // n < k → no rows
      (7L, "")).toDF("doc_id", "text")
    for (k <- Seq(1, 3)) {
      val sh = if (k == 1) DedupOps.words(col("text"))
               else DedupOps.shingles(col("text"), k)
      val staged = tricky.filter(size(sh) > 0)
        .select(col("doc_id"), posexplode(DedupOps.lshBandHashes(
          DedupOps.minhashSignature(DedupOps.shingleHashes(sh), 16), 4, 4))
          .as(Seq("pos", "bh")))
        .as[(Long, Int, String)].collect().toSet
      val gen = tricky
        .select(col("doc_id"),
          graft.functions.MinhashSig.minhashTextBandsGen(col("text"), k, 16, 4))
        .as[(Long, Int, String)].collect().toSet
      assert(gen == staged, s"k=$k")
    }
  }

  test("simhash16: identical texts identical hash; 16 bits") {
    val sh = DedupOps.simhash16(df, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(sh(1L) == sh(4L))
    assert(sh(1L).matches("[01]{16}"))
    assert(sh(1L) != sh(3L))
  }

  test("simhashPairs: near-dups within hamming radius, distinct texts not") {
    val out = DedupOps.simhashPairs(df, "doc_id", "text",
      maxHamming = 3, prefixBits = 4)
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(out((1L, 4L)) == 0) // identical text → identical simhash
    assert(out.get((1L, 2L)).forall(_ <= 3))
    assert(!out.contains((1L, 3L)) && !out.contains((3L, 4L)))
  }

  test("simhash60 matches the pure-Scala model bit for bit") {
    // executable spec of the md5-nibble sign recipe: same shingling,
    // same bit packing, computed with MessageDigest instead of Spark
    def model(text: String, k: Int): Option[Long] = {
      val w = text.split(" ").toSeq
      if (w.length < k) None
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val sums = new Array[Int](60)
        for (s <- w.sliding(k).map(_.mkString(" ")).toSeq.distinct) {
          val hex = md.digest(s.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          for (p <- 0 until 60) {
            val v = Character.digit(hex.charAt(p / 4), 16)
            sums(p) += (((v >> (p % 4)) & 1) * 2 - 1)
          }
        }
        Some((0 until 60).map(p => if (sums(p) > 0) 1L << p else 0L).sum)
      }
    }
    val out = DedupOps.simhash60(df, "doc_id", "text", k = 3)
      .as[(Long, Long)].collect().toMap
    val expected = corpus.flatMap { case (id, t) =>
      model(t, 3).map(id -> _)
    }.toMap
    assert(out == expected) // doc 5 ("tiny") has no 3-shingles → absent
    assert(out.values.forall(s => s >= 0L && s < (1L << 60)))
  }

  test("simhashHammingPairs: exact dups at hamming 0, disjoint docs unpaired") {
    val out = DedupOps.simhashHammingPairs(df, "doc_id", "text",
      k = 3, maxHamming = 3, bands = 4)
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(out((1L, 4L)) == 0) // identical text → identical signature
    // disjoint shingle vocab → independent signs; no shared band
    assert(!out.contains((1L, 3L)) && !out.contains((3L, 4L)))
    // every reported pair respects the threshold and ordering contract
    assert(out.forall { case ((a, b), h) => a < b && h >= 0 && h <= 3 })
  }

  test("simhashW: 60-bit bands concatenate to simhash60; W pairs equal the 60-bit operator") {
    // the width-parameterized form at the default geometry must BE the
    // 60-bit operator: band values are its contiguous 15-bit ranges,
    // and the Hamming-pair output is identical set-for-set
    val sig = DedupOps.simhashW(df, "doc_id", "text", k = 3)
      .as[(Long, Seq[Long])].collect().toMap
    val packed = DedupOps.simhash60(df, "doc_id", "text", k = 3)
      .as[(Long, Long)].collect().toMap
    assert(sig.keySet == packed.keySet)
    for ((id, bands) <- sig) {
      assert(bands.length == 4 && bands.forall(v => v >= 0 && v < (1L << 15)))
      assert(bands.zipWithIndex.map { case (v, b) => v << (b * 15) }.sum
        == packed(id), s"doc $id")
    }
    val w = DedupOps.simhashHammingPairsW(df, "doc_id", "text",
        k = 3, maxHamming = 3, bands = 4, bits = 60)
      .as[(Long, Long, Int)].collect().toSet
    val base = DedupOps.simhashHammingPairs(df, "doc_id", "text",
        k = 3, maxHamming = 3, bands = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(w == base)
  }

  test("clusters: transitive pairs merge; rep is min member") {
    val pairs = Seq((1L, 4L), (4L, 9L), (20L, 30L)).toDF("a", "b")
    val out = DedupOps.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 4L -> 1L, 9L -> 1L, 20L -> 20L, 30L -> 20L))
  }

  test("clusters matches GraphX twin on chain / star / dup-edge graphs") {
    // chain (worst-case diameter for naive propagation), descending edge
    // order, a star, duplicate + reversed edges, an isolated pair
    val pairs = Seq(
      (9L, 8L), (8L, 7L), (7L, 6L), (6L, 5L), (5L, 4L), (4L, 3L),
      (100L, 101L), (100L, 102L), (100L, 103L),
      (101L, 100L), (100L, 101L),
      (200L, 201L)).toDF("a", "b")
    val df1 = DedupOps.clusters(pairs).as[(Long, Long)].collect().toSet
    val df2 = DedupOps.clustersGraphx(pairs).as[(Long, Long)].collect().toSet
    val df3 = DedupOps.clustersDataFrame(pairs).as[(Long, Long)].collect().toSet
    assert(df1 == df2)
    assert(df1 == df3)
    assert(df1.filter(_._2 == 3L).map(_._1) == Set(3L, 4L, 5L, 6L, 7L, 8L, 9L))
    // the crossover selector is invisible in output on BOTH sides of
    // the threshold (GraphX below, spill-safe DF rounds above)
    val auto = DedupOps.clustersAuto(pairs).as[(Long, Long)].collect().toSet
    val autoDf = DedupOps.clustersAuto(pairs, maxGraphxEdges = 0L)
      .as[(Long, Long)].collect().toSet
    assert(auto == df1 && autoDf == df1)
    // the releasable variants: same output, and the handle actually
    // frees blocks (the edge checkpoint leaves getPersistentRDDs —
    // Dataset.unpersist would silently no-op on it, the Release gotcha)
    for (mx <- Seq(DedupOps.ClustersGraphxMaxEdges, 0L)) {
      val (rel, release) = DedupOps.clustersAutoReleasable(pairs,
        maxGraphxEdges = mx)
      assert(rel.as[(Long, Long)].collect().toSet == df1)
      val beforeRelease = spark.sparkContext.getPersistentRDDs.keySet
      release()
      val afterRelease = spark.sparkContext.getPersistentRDDs.keySet
      assert(afterRelease.size < beforeRelease.size,
        s"release() freed nothing (maxGraphxEdges=$mx): " +
          s"$beforeRelease -> $afterRelease")
    }
    val (rel2, release2) = DedupOps.clustersReleasable(pairs)
    assert(rel2.as[(Long, Long)].collect().toSet == df1)
    val beforeRel2 = spark.sparkContext.getPersistentRDDs.keySet
    release2()
    assert(spark.sparkContext.getPersistentRDDs.keySet.size < beforeRel2.size)
  }

  test("dedupKeepBest: per-cluster argmax by (quality desc, id asc); singletons survive") {
    // quality = id*10 so the HIGHEST id in a cluster must win (the
    // min-id default of dd9 would keep the lowest — this pins the
    // policy actually being quality-driven, not id-driven)
    val out = DedupOps.dedupKeepBest(df, "doc_id", "text",
        col("doc_id").cast("long") * 10)
      .as[(Long, Long, Long, Long)].collect()
    // model: derive the expected keep set from the cluster assignment
    val members = DedupOps.clusters(
        DedupOps.minhashCandidates(df, "doc_id", "text",
          shingleK = 3, numPerm = 16, bands = 4))
      .as[(Long, Long)].collect().toMap // member -> rep
    val byRep = corpus.map(_._1).groupBy(id => members.getOrElse(id, id))
    val expected = byRep.map { case (rep, ms) =>
      val best = ms.max // quality is monotone in id here
      (best, rep, best * 10, ms.size.toLong)
    }.toSet
    assert(out.toSet == expected)
    // the exact-dup pair (1,4) resolves to the higher-quality member 4
    assert(out.exists(r => r._1 == 4L && r._2 == 1L))
    assert(!out.exists(r => r._1 == 1L))
    // ties on quality fall back to the SMALLEST id: rerun with a
    // constant quality — every cluster keeps its min member
    val tied = DedupOps.dedupKeepBest(df, "doc_id", "text", lit(7L))
      .as[(Long, Long, Long, Long)].collect()
    assert(tied.forall(r => r._1 == r._2)) // rep IS the min member
  }

  test("sourceCap: bounded deterministic per-source keep; oversize cap keeps all") {
    val docs = (1L to 30L).map(i => (i, if (i <= 20) "s1" else "s2"))
      .toDF("doc_id", "source")
    val out = TextAnalysisOps.sourceCap(docs, "doc_id", "source", 5)
      .as[(String, Long)].collect()
    assert(out.count(_._1 == "s1") == 5 && out.count(_._1 == "s2") == 5)
    // the kept set is exactly the 5 smallest (md5(id), id) per source —
    // a pure function of the data, independent of partitioning
    def h(i: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (1L to 30L).groupBy(i => if (i <= 20) "s1" else "s2")
      .toSeq // NOT flatMap on the Map — pairs would collapse by key
      .flatMap { case (s, is) =>
        is.toSeq.sortBy(i => (h(i), i)).take(5).map(s -> _)
      }.toSet
    assert(out.toSet == expected)
    assert(TextAnalysisOps.sourceCap(docs, "doc_id", "source", 100)
      .count() == 30)
  }

  test("tokenBudgetSelect: equals the naive global cumsum, cutting mid-tie-group") {
    // 4 quality tie groups of 10 docs each (identical stopword ratios),
    // 8 tokens per doc — budgets chosen to cut inside a tie group, at a
    // group boundary, at zero, and beyond the corpus
    val docs = (1L to 40L).map { i =>
      val nStop = (i % 4).toInt
      (i, (Seq.fill(nStop)("the") ++ Seq.fill(8 - nStop)("zebra"))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val scored = TextAnalysisOps.qualityMetrics(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_tokens").cast("long"),
        col("stopword_ratio"))
      .as[(Long, Long, Double)].collect()
      .sortBy { case (id, _, r) => (-r, id) }
    for (budget <- Seq(0L, 37L, 80L, 163L, 320L, 1000L)) {
      val out = TextAnalysisOps.tokenBudgetSelect(docs, "doc_id", "text",
          budget).as[(Long, Long, Double)].collect().toSet
      var cum = 0L
      val expected = scored.takeWhile { case (_, n, _) =>
        cum += n; cum <= budget
      }.toSet
      assert(out == expected, s"budget=$budget")
    }
  }

  test("knnGraph: per-node top-k same-bucket directed edges; singleton buckets edge-free") {
    // buckets by sign of dims 1–2: {2,3,6} (exercises k=2 truncation),
    // {4,5} (mutual rank-1), {1} (singleton — no edges)
    val vs = Seq(
      (1L, Array(1.0f, -0.5f, 0.2f)),
      (2L, Array(0.9f, 0.1f, 0.3f)),
      (3L, Array(0.8f, 0.2f, -0.1f)),
      (4L, Array(-1.0f, 0.5f, 0.0f)),
      (5L, Array(-0.9f, 0.4f, 0.1f)),
      (6L, Array(0.7f, 0.3f, 0.2f)))
    def cosM(x: Array[Float], y: Array[Float]): Double = {
      val dot = x.zip(y).map { case (a, b) => a.toDouble * b }.sum
      val n = math.sqrt(x.map(a => a.toDouble * a).sum) *
        math.sqrt(y.map(a => a.toDouble * a).sum)
      BigDecimal(dot / n).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    val expected = vs.groupBy { case (_, v) => (v(0) > 0, v(1) > 0) }
      .values.toSeq.flatMap { grp =>
        grp.flatMap { case (a, va) =>
          grp.filter(_._1 != a)
            .map { case (b, vb) => (b, cosM(va, vb)) }
            .sortBy { case (b, s) => (-s, b) }
            .take(2).zipWithIndex
            .map { case ((b, s), i) => (a, b, s, i + 1) }
        }
      }.toSet
    val out = SimilarityOps.knnGraph(vs.toDF("vec_id", "embedding"),
        k = 2, bits = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(out == expected)
    assert(!out.exists(_._1 == 1L) && !out.exists(_._2 == 1L))
  }

  test("knnGraphMultiProbe: union of probe buckets, emit-once dedup, superset recall") {
    // dim 4, bits 2, probes 2: probe 0 buckets dims 1–2, probe 1 dims
    // 3–4. Vectors arranged so some pairs meet ONLY via probe 1 and one
    // pair meets via BOTH (must not double-count).
    val vs = Seq(
      (1L, Array(1.0f, 0.5f, 1.0f, 0.5f)),   // p0="11" p1="11"
      (2L, Array(0.9f, 0.4f, 0.8f, 0.6f)),   // p0="11" p1="11" both-probe dup with 1
      (3L, Array(-1.0f, 0.5f, 0.9f, 0.4f)),  // p0="01" p1="11" probe-1-only vs 1,2
      (4L, Array(-0.9f, 0.6f, -1.0f, 0.5f)), // p0="01" p1="01" probe-0 with 3
      (5L, Array(1.0f, -1.0f, -1.0f, -1.0f))) // p0="10" p1="00" isolated
    def cosM(x: Array[Float], y: Array[Float]): Double = {
      val dot = x.zip(y).map { case (a, b) => a.toDouble * b }.sum
      val n = math.sqrt(x.map(a => a.toDouble * a).sum) *
        math.sqrt(y.map(a => a.toDouble * a).sum)
      BigDecimal(dot / n).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    def bkt(v: Array[Float], off: Int) =
      (v(off) > 0, v(off + 1) > 0)
    val expected = vs.flatMap { case (a, va) =>
      vs.filter { case (b, vb) =>
        b != a && (bkt(va, 0) == bkt(vb, 0) || bkt(va, 2) == bkt(vb, 2))
      }.map { case (b, vb) => (b, cosM(va, vb)) }
        .sortBy { case (b, s) => (-s, b) }
        .take(2).zipWithIndex
        .map { case ((b, s), i) => (a, b, s, i + 1) }
    }.toSet
    val out = SimilarityOps.knnGraphMultiProbe(
        vs.toDF("vec_id", "embedding"), k = 2, bits = 2, probes = 2)
      .as[(Long, Long, Double, Int)].collect()
    // emit-once: no (a, b) appears twice even when both probes match
    assert(out.map(e => (e._1, e._2)).distinct.length == out.length)
    assert(out.toSet == expected)
    // probe-1-only neighbors present (1,3) — single-probe would miss
    assert(out.exists(e => e._1 == 1L && e._2 == 3L))
    assert(!out.exists(e => e._1 == 5L || e._2 == 5L))
    // probes=1 stays bit-identical to the single-probe formulation
    val single = SimilarityOps.knnGraph(vs.toDF("vec_id", "embedding"),
        k = 2, bits = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    val manual = vs.flatMap { case (a, va) =>
      vs.filter { case (b, vb) => b != a && bkt(va, 0) == bkt(vb, 0) }
        .map { case (b, vb) => (b, cosM(va, vb)) }
        .sortBy { case (b, s) => (-s, b) }
        .take(2).zipWithIndex
        .map { case ((b, s), i) => (a, b, s, i + 1) }
    }.toSet
    assert(single == manual)
  }

  test("MisraGries: presence and bound contracts hold under any partitioning") {
    val rnd2 = new scala.util.Random(7)
    val items = Seq.fill(400)("hot") ++
      (1 to 600).map(_ => s"w${rnd2.nextInt(200)}")
    val n = items.length
    val k = 10 // threshold n/(k+1) ≈ 90.9 — only "hot" is guaranteed
    val exact = items.groupBy(identity)
      .map { case (w, l) => w -> l.size.toLong }
    for (parts <- Seq(1, 3, 8)) {
      val out = HeavyHitters.heavyHitters(
          spark.sparkContext.parallelize(items, parts).toDF("item"),
          "item", k)
        .as[(String, Long)].collect().toMap
      assert(out.size <= k, s"parts=$parts capacity violated")
      // no false negatives above the threshold
      exact.foreach { case (w, c) =>
        if (c > n / (k + 1.0))
          assert(out.contains(w), s"parts=$parts missing frequent $w")
      }
      // never overcounts; undercounts by at most n/(k+1)
      out.foreach { case (w, est) =>
        val c = exact(w)
        assert(est <= c && est >= c - n / (k + 1.0) - 1e-9,
          s"parts=$parts item=$w est=$est exact=$c")
      }
    }
  }

  test("bpeTokenSequences: in-order token stream; conservation; count parity") {
    // corpus wf: aa=3, b=2 → merge 1 adopts (a a); "aa" → one token
    val docs = Seq((1L, "aa aa b"), (2L, "aa b")).toDF("doc_id", "text")
    val (seqs, release) = TextAnalysisOps.bpeTokenSequences(
      docs, "doc_id", "text", nMerges = 1)
    val out = seqs.as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    release()
    assert(out(1L) == (("aa aa b", 3L)))
    assert(out(2L) == (("aa b", 2L)))
    // parity with the count-only apply on the corpus fixture
    val (counts, rel2) = TextAnalysisOps.bpeTokenizer(df, "doc_id",
      "text", nMerges = 3)
    val nByDoc = counts.select(col("doc_id"), col("n_bpe_tokens"))
      .as[(Long, Long)].collect().toMap
    rel2()
    val (seqs2, rel3) = TextAnalysisOps.bpeTokenSequences(df, "doc_id",
      "text", nMerges = 3)
    val out2 = seqs2.as[(Long, String, Long)].collect()
    rel3()
    out2.foreach { case (id, toks, n) =>
      assert(n == nByDoc(id), s"doc $id count mismatch")
      // conservation: dropping spaces reconstructs the letters of the
      // extracted words, in order
      val letters = corpus.toMap.apply(id).toLowerCase
        .replaceAll("[^a-z]+", "")
      assert(toks.replace(" ", "") == letters, s"doc $id letters")
    }
  }

  test("exactHeavyHitters: deterministic exact counts above threshold, any partitioning") {
    val rnd3 = new scala.util.Random(11)
    val items = Seq.fill(300)("hot") ++ Seq.fill(150)("warm") ++
      (1 to 550).map(_ => s"w${rnd3.nextInt(400)}")
    val n = items.length // 1000; k=10 → threshold 90.9
    val expected = items.groupBy(identity)
      .map { case (w, l) => w -> l.size.toLong }
      .filter(_._2 > n / 11.0)
    assert(expected.keySet == Set("hot", "warm")) // fixture sanity
    for (parts <- Seq(1, 4, 8)) {
      val out = HeavyHitters.exactHeavyHitters(
          spark.sparkContext.parallelize(items, parts).toDF("item"),
          "item", 10)
        .as[(String, Long)].collect().toMap
      assert(out == expected, s"parts=$parts")
    }
  }

  test("countMinSketch: grid equals the md5 model; estimates never undercount") {
    val items = Seq("a", "b", "a", "c", "a", "b", "dd", "a")
    val (width, depth) = (8, 3)
    def bucket(r: Int, item: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cms$r|$item".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % width).toInt
    }
    val model = items.flatMap(i => (0 until depth).map(r => (r, bucket(r, i))))
      .groupBy(identity).map { case ((r, b), l) => (r, b, l.size.toLong) }
      .toSet
    val grid = HeavyHitters.countMinSketch(items.toDF("item"), "item",
        width, depth)
      .as[(Int, Int, Long)].collect().toSet
    assert(grid == model)
    // estimates: exact lower bound holds for seen AND unseen items
    val exact = items.groupBy(identity)
      .map { case (i, l) => i -> l.size.toLong }
    val est = HeavyHitters.cmsEstimate(
        HeavyHitters.countMinSketch(items.toDF("item"), "item", width,
          depth),
        (items.distinct :+ "zz").toDF("item"), "item", width, depth)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (i, c) => assert(est(i) >= c, i) }
    assert(est("zz") >= 0L)
    // model estimate equality (deterministic sketch, deterministic min)
    val gridMap = model.map { case (r, b, n) => (r, b) -> n }.toMap
    (items.distinct :+ "zz").foreach { i =>
      val m = (0 until depth)
        .map(r => gridMap.getOrElse((r, bucket(r, i)), 0L)).min
      assert(est(i) == m, i)
    }
  }

  test("snapshotDiff: all four statuses classified; ids total") {
    val o = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val n = Seq((2L, "beta"), (3L, "gamma CHANGED"), (4L, "delta"))
      .toDF("doc_id", "text")
    val out = TextAnalysisOps.snapshotDiff(o, n, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    // null text is PRESENCE, not absence: a null-text doc in both
    // snapshots is unchanged; null→text and text→null are changed
    val o2 = Seq((1L, null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String]), (3L, "x"))
      .toDF("doc_id", "text")
    val n2 = Seq((1L, null.asInstanceOf[String]), (2L, "y"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out2 = TextAnalysisOps.snapshotDiff(o2, n2, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out2 == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "changed"))
  }

  test("leakageFreeSplit: cluster members share one split; singletons covered; deterministic") {
    val out = DedupOps.leakageFreeSplit(df, "doc_id", "text",
      trainPct = 80, valPct = 10, shingleK = 3, numPerm = 16, bands = 4)
      .as[(Long, Long, String)].collect()
    // total function over the corpus — every doc gets exactly one split
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val byId = out.map { case (id, rep, split) => id -> ((rep, split)) }.toMap
    // docs 1/2/4 are near/exact dups → one cluster, rep = min id = 1,
    // and (the leakage property) one shared split
    assert(byId(1L)._1 == 1L && byId(2L)._1 == 1L && byId(4L)._1 == 1L)
    assert(Set(byId(1L)._2, byId(2L)._2, byId(4L)._2).size == 1)
    // singletons are their own rep
    assert(byId(3L)._1 == 3L && byId(5L)._1 == 5L)
    assert(out.forall(r => Set("train", "val", "test").contains(r._3)))
    // pure function of the data — identical on re-run
    val again = DedupOps.leakageFreeSplit(df, "doc_id", "text",
      trainPct = 80, valPct = 10, shingleK = 3, numPerm = 16, bands = 4)
      .as[(Long, Long, String)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("leakageFreeSplit: corpus with no near-dups — every doc its own rep, still total") {
    val distinct = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red orange yellow green blue indigo"))
      .toDF("doc_id", "text")
    val out = DedupOps.leakageFreeSplit(distinct, "doc_id", "text",
      trainPct = 80, valPct = 10, shingleK = 3, numPerm = 16, bands = 4)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2)).toSeq ==
      Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    assert(out.forall(r => Set("train", "val", "test").contains(r._3)))
  }

  test("clusters: empty pair set yields empty result") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DedupOps.clusters(empty).count() == 0)
    assert(DedupOps.clustersDataFrame(empty).count() == 0)
  }

  test("embeddingDedup drops near-dups with smaller-id twin; distinct vectors survive") {
    val emb = Seq(
      (1L, Array(1f, 0.1f, 0.1f, 0.1f)),     // bucket 1111
      (2L, Array(0.99f, 0.1f, 0.11f, 0.1f)), // near-dup of 1, same bucket
      (3L, Array(0.1f, 1f, 0.5f, 0.2f)),     // same bucket, dissimilar
      (4L, Array(-1f, -0.1f, -0.1f, -0.1f))  // bucket 0000
    ).toDF("vec_id", "embedding")
    val pairs = DedupOps.embeddingPairs(emb, 0.9, bits = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    val survivors = DedupOps.embeddingDedup(emb, 0.9, bits = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 3L, 4L))
  }

  test("jaccardPairs: identical 1.0; near-dup high; blocked") {
    val pairs = DedupOps.jaccardPairs(df, "doc_id", "text",
      substring(col("text"), 1, 10), 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((1L, 4L)) == 1.0)
    assert(pairs((1L, 2L)) >= 0.7 && pairs((1L, 2L)) < 1.0)
    assert(!pairs.contains((1L, 3L))) // different block
  }

  test("cosine kernels: orthogonal 0, identical 1, f32 ≈ double") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)),
      (3L, Array(1f, 0f, 0f)), (4L, Array(0.5f, 0.5f, 0.1f)))
      .toDF("vec_id", "embedding")
    val l = vecs.select(col("vec_id").as("a"), col("embedding").as("va"))
    val r = vecs.select(col("vec_id").as("b"), col("embedding").as("vb"))
    val sims = l.crossJoin(r).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        SimilarityOps.cosine(col("va"), col("vb")).as("d"),
        SimilarityOps.cosineF32(col("va"), col("vb")).as("f"))
      .as[(Long, Long, Double, Double)].collect()
      .map { case (a, b, x, y) => (a, b) -> (x, y) }.toMap
    assert(sims((1L, 2L))._1 == 0.0)
    assert(sims((1L, 3L))._1 == 1.0)
    sims.values.foreach { case (d, f) => assert(math.abs(d - f) < 1e-6) }
  }

  test("bruteForceTopK ranks neighbors deterministically") {
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(1f, 0.01f)))
      .toDF("vec_id", "embedding")
    val top = SimilarityOps.bruteForceTopK(vecs,
      vecs.filter(col("vec_id") === 1), 2)
      .select("neighbor_id", "rk").as[(Long, Int)].collect().toSeq
    assert(top == Seq((4L, 1), (2L, 2)))
  }

  test("langId picks the max-score language with fixed tie precedence") {
    val docs = Seq(
      (1L, "the cat and the dog is with us"),
      (2L, "el que la los de aqui"),
      (3L, "zzz qqq")) // all scores 0 → tie → 'en' by precedence
      .toDF("doc_id", "text")
    val out = TextAnalysisOps.langId(docs, "doc_id", "text")
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "en")
  }

  test("quality metrics and token counts behave on edge inputs") {
    val docs = Seq((1L, "a b, c."), (2L, "")).toDF("doc_id", "text")
    val q = TextAnalysisOps.qualityMetrics(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(q(1L).getAs[Int]("n_chars") == 7)
    assert(q(1L).getAs[Double]("punct_ratio") > 0)
    val t = docs.select(col("doc_id"),
      TextAnalysisOps.tokenCount(col("text")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(t(1L) == 3 && t(2L) == 0)
  }

  test("chunk: every token covered; short tail window when unaligned; tiny doc one chunk") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // aligned: n-size % stride == 0
      (2L, "a b"),                                    // shorter than one window
      (3L, "a b c d e")).toDF("doc_id", "text")       // unaligned: tail window
    val out = TextAnalysisOps.chunk(docs, "doc_id", "text", 4, 3)
      .as[(Long, Int, String, Int)].collect().toSet
    assert(out == Set(
      (1L, 0, "w1 w2 w3 w4", 4),
      (1L, 1, "w4 w5 w6 w7", 4),
      (1L, 2, "w7 w8 w9 w10", 4),
      (2L, 0, "a b", 2),
      (3L, 0, "a b c d", 4),
      (3L, 1, "d e", 2))) // token e would be lost without the tail window
  }

  test("contamination counts eval-set shingle hits per train doc") {
    val train = Seq(
      (1L, "x y z q a b"), // {x y z} hits, 4 shingles
      (2L, "p q r s")).toDF("doc_id", "text")
    val eval_ = Seq((100L, "x y z w")).toDF("doc_id", "text")
    val out = TextAnalysisOps.contamination(train, eval_, "doc_id", "text", 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 4L, 1L, 0.25), (2L, 2L, 0L, 0.0)))
  }

  test("contaminationBloom: identical to exact contamination; empty eval → all zero") {
    val train = Seq(
      (1L, "x y z q a b"),
      (2L, "p q r s"),
      (3L, "x y z q a b c d e f")).toDF("doc_id", "text")
    val eval_ = Seq((100L, "x y z w"), (101L, "a b c d")).toDF("doc_id", "text")
    val exact = TextAnalysisOps.contamination(train, eval_, "doc_id", "text", 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    // tiny expectedShingles → saturated filter, maximal false positives:
    // the exact join must still erase them
    for (expected <- Seq(4L, 1L << 20)) {
      val bloom = TextAnalysisOps.contaminationBloom(train, eval_,
        "doc_id", "text", 3, expectedShingles = expected)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(bloom == exact, s"expectedShingles=$expected")
    }
    val none = TextAnalysisOps.contaminationBloom(train,
      eval_.filter(col("doc_id") < 0), "doc_id", "text", 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(none.map(r => (r._1, r._3)) == Set((1L, 0L), (2L, 0L), (3L, 0L)))
  }

  test("dedupIncremental: new batch vs persisted band index, append grows the index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bandidx").toString
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "an entirely different corpus document here")).toDF("doc_id", "text")
    DedupOps.bandIndexBuild(corpus, dir, "doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // dup of 100
      (2L, "nothing similar at all in this one")).toDF("doc_id", "text")
    val out = DedupOps.dedupIncremental(batch, dir, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 100L)))
    // append the batch; a later dup of doc 2 is then caught too
    DedupOps.bandIndexAppend(batch, dir, "doc_id", "text")
    val out2 = DedupOps.dedupIncremental(
      Seq((5L, "nothing similar at all in this one")).toDF("doc_id", "text"),
      dir, "doc_id", "text").as[(Long, Long)].collect().toSet
    assert(out2 == Set((5L, 2L)))
  }

  test("upsert: updates win on key, unmatched current rows survive") {
    val current = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B"), (4L, "D")).toDF("k", "v")
    val out = TransformOps.upsert(current, updates, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
  }

  test("columnProfile: one-pass nulls/distinct/min/max in long form") {
    val df = Seq(
      (Some(1L), "a"), (Some(2L), "b"), (None, "b"), (Some(2L), "c"))
      .toDF("k", "s")
    val out = TransformOps.columnProfile(df, Seq("k", "s"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("k") == (("k", 4L, 1L, 2L, "1", "2")))
    assert(out("s") == (("s", 4L, 0L, 3L, "a", "c")))
  }

  test("quantizeInt8: codes bounded, round-trip error <= qscale/2; zero/empty vectors safe") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0f, 0f)),          // zero vector → qscale 0, zero codes
      (3L, Array.empty[Float]),
      (4L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.quantizeInt8(vecs, "vec_id")
      .as[(Long, Option[Double], Seq[Byte])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val (s1, q1) = out(1L)
    assert(s1.contains(1.0 / 127.0))
    assert(q1 == Seq[Byte](64, -127, 32)) // round(0.5*127)=64 (63.5 → away from zero)
    assert(out(2L) == ((Some(0.0), Seq.empty[Byte] ++ Seq[Byte](0, 0))))
    assert(out(3L) == ((None, Seq.empty[Byte]))) // empty → NULL qscale, [] codes
    assert(out(4L)._2 == null)
    // round-trip error bound on real data
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val err = SimilarityOps.quantizeInt8(emb, "vec_id")
      .join(emb, "vec_id")
      .select(aggregate(
        zip_with(col("embedding"), col("q8"),
          (x, q) => abs(x.cast("double") - q.cast("double") * col("qscale"))),
        lit(0.0), (a, v) => greatest(a, v)).as("e"),
        col("qscale"))
      .filter(col("e") > col("qscale") * 0.5 + 1e-12)
    assert(err.isEmpty)
  }

  test("quantizeInt8: native kernel matches the declarative spec bit-for-bit") {
    // adversarial floats: half-way rounding points both signs, values
    // BigDecimal.valueOf and float→double widening could disagree on,
    // null slots, zero/empty/null vectors, subnormals, huge magnitudes
    val rnd = new scala.util.Random(7)
    val tricky: Seq[(Long, Array[java.lang.Float])] = Seq(
      1L -> Array[java.lang.Float](0.5f, -1.0f, 0.25f),
      2L -> Array[java.lang.Float](0f, -0f),
      3L -> Array.empty[java.lang.Float],
      4L -> null,
      5L -> Array[java.lang.Float](63.5f, -63.5f, 64.5f, -64.5f, 127f),
      6L -> Array[java.lang.Float](null, 1f, null),
      7L -> Array[java.lang.Float](null, null),
      8L -> Array[java.lang.Float](1e-38f, Float.MinPositiveValue, 3.4e38f),
      9L -> Array[java.lang.Float](0.1f, 0.2f, 0.3f, 0.7f, -0.049999997f)
    ) ++ (10L to 40L).map { id =>
      id -> Array.fill(16)(java.lang.Float.valueOf(
        (rnd.nextFloat() - 0.5f) * math.pow(10, rnd.nextInt(8) - 4).toFloat))
    }
    val df = tricky.toDF("vec_id", "embedding")
    val native = SimilarityOps.quantizeInt8(df, "vec_id")
      .as[(Long, Option[Double], Seq[Option[Byte]])].collect().sortBy(_._1)
    val spec = SimilarityOps.quantizeInt8Declarative(df, "vec_id")
      .as[(Long, Option[Double], Seq[Option[Byte]])].collect().sortBy(_._1)
    assert(native.toSeq == spec.toSeq)
    // and on real data, the whole frame agrees
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert(SimilarityOps.quantizeInt8(emb, "vec_id")
      .except(SimilarityOps.quantizeInt8Declarative(emb, "vec_id")).isEmpty)
  }

  test("mixToBudget: md5-order prefix per stratum, cut at the budget line") {
    val rows = Seq((1L, "a", 10), (2L, "a", 10), (3L, "a", 10),
      (4L, "b", 5), (5L, "b", 100), (6L, "b", 1))
    val out = TextAnalysisOps.mixToBudget(
      rows.toDF("doc_id", "src", "wt"), "doc_id", "src", "wt",
      Map("a" -> 20L), defaultBudget = 50L)
      .select("doc_id").as[Long].collect().toSet
    // reference model: greedy cumulative sum in md5-hex order
    def hex(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = rows.groupBy(_._2).flatMap { case (src, rs) =>
      val budget = if (src == "a") 20L else 50L
      var run = 0L
      rs.sortBy(r => (hex(r._1), r._1)).takeWhile { r =>
        run += r._3; run <= budget
      }.map(_._1)
    }.toSet
    assert(out == expected && out.nonEmpty)
  }

  test("temperatureMix: sqrt-share budgets, greedy model equality; alpha edges") {
    // strata with 9:1 token skew so temperature visibly reweights
    val rows = (1L to 45L).map(i => (i, "big", 10L)) ++
      (101L to 105L).map(i => (i, "small", 10L))
    val df = rows.toDF("doc_id", "src", "wt")
    def hex(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def model(alpha: Double, total: Long): Set[Long] = {
      val toks = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      val wq = toks.view.mapValues(t =>
        math.round(math.pow(t.toDouble, alpha) * 1000000d)).toMap
      val wsum = wq.values.sum
      rows.groupBy(_._2).flatMap { case (src, rs) =>
        val budget = total * wq(src) / wsum
        var run = 0L
        rs.sortBy(r => (hex(r._1), r._1)).takeWhile { r =>
          run += r._3; run <= budget
        }.map(_._1)
      }.toSet
    }
    val out = TextAnalysisOps.temperatureMix(df, "doc_id", "src", "wt",
      totalBudget = 200L, alphaPct = 50)
      .select("doc_id").as[Long].collect().toSet
    assert(out == model(0.5, 200L) && out.nonEmpty)
    // alpha = 0.5 gives 'small' a 3x-over-natural share: sqrt(450) vs
    // sqrt(50) is 3:1, not 9:1 — both strata are cut, and small keeps
    // proportionally more than its 10% of tokens
    val kept = TextAnalysisOps.temperatureMix(df, "doc_id", "src", "wt",
      totalBudget = 200L, alphaPct = 50)
      .groupBy("src").agg(sum(col("wt")).as("t"))
      .as[(String, Long)].collect().toMap
    assert(kept("small") > 200L / 10 && kept("big") < 200L * 9 / 10)
    // alpha = 100: natural proportions (pow(x,1) = x exactly)
    assert(TextAnalysisOps.temperatureMix(df, "doc_id", "src", "wt",
      totalBudget = 200L, alphaPct = 100)
      .select("doc_id").as[Long].collect().toSet == model(1.0, 200L))
    // alpha = 0: uniform split (pow(x,0) = 1 exactly)
    assert(TextAnalysisOps.temperatureMix(df, "doc_id", "src", "wt",
      totalBudget = 200L, alphaPct = 0)
      .select("doc_id").as[Long].collect().toSet == model(0.0, 200L))
    // mixToBudgetDf with explicit budgets == mixToBudget literal map
    val budgets = Seq(("big", 100L), ("small", 60L)).toDF("src", "_budget")
    assert(TextAnalysisOps.mixToBudgetDf(df, "doc_id", "src", "wt", budgets)
        .select("doc_id").as[Long].collect().toSet ==
      TextAnalysisOps.mixToBudget(df, "doc_id", "src", "wt",
        Map("big" -> 100L, "small" -> 60L), defaultBudget = 0L)
        .select("doc_id").as[Long].collect().toSet)
    // a stratum absent from budgetDf keeps everything
    val onlyBig = Seq(("big", 100L)).toDF("src", "_budget")
    val keptSmall = TextAnalysisOps
      .mixToBudgetDf(df, "doc_id", "src", "wt", onlyBig)
      .filter(col("src") === "small").count()
    assert(keptSmall == 5L)
  }

  test("weightedSample: exact-k E-S draw equals the window formulation; w<=0 excluded") {
    val docs = (1L to 100L)
      .map(i => (i, if (i % 2 == 0) "a" else "b", (i % 7).toInt)) // w=0 every 7th
      .toDF("doc_id", "src", "wt")
    val out = TextAnalysisOps.weightedSample(docs, "doc_id", "src", "wt", 3)
      .as[(Long, String, Int)].collect().toSet
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val pri = pow(u, lit(1.0) / col("wt").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(pri.desc, col("doc_id").asc)
    val ref = docs.filter(col("wt") > 0)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .drop("rn").as[(Long, String, Int)].collect().toSet
    assert(out == ref && out.size == 6)
    assert(out.forall(_._3 > 0))
  }

  test("buildBloom sizes past the runtime-filter conf caps (no silent saturation)") {
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (oldItems, oldBits) = (spark.conf.get(itemsKey), spark.conf.get(bitsKey))
    try {
      // hostile caps: without the conf raise the filter clamps to 8
      // items / 64 bits and saturates on 2000 keys (FP rate ~1)
      spark.conf.set(itemsKey, 8L)
      spark.conf.set(bitsKey, 64L)
      val members = (1L to 2000L).map(Tuple1(_)).toDF("k")
      val bloom = BloomJoin.buildBloom(members, col("k"), 2000, fpp = 0.01)
      val fps = (100001L to 102000L).map(Tuple1(_)).toDF("k")
        .filter(BloomJoin.mightContain(bloom, col("k"))).count()
      assert(fps < 100, s"saturated filter: $fps/2000 false positives")
      // and the caps are restored afterwards
      assert(spark.conf.get(itemsKey) == "8")
    } finally {
      spark.conf.set(itemsKey, oldItems)
      spark.conf.set(bitsKey, oldBits)
    }
  }

  test("bloomSemiJoin equals a plain left-semi join") {
    val left = (1L to 200L).map(i => (i, s"v$i")).toDF("k", "payload")
    val right = (150L to 400L by 2).map(i => Tuple1(i)).toDF("k")
    val viaBloom = BloomJoin.bloomSemiJoin(left, right, "k", 1000)
      .as[(Long, String)].collect().toSet
    val plain = left.join(right, Seq("k"), "left_semi")
      .as[(Long, String)].collect().toSet
    assert(viaBloom == plain && plain.nonEmpty)
    // empty build side → empty result, not a crash
    assert(BloomJoin.bloomSemiJoin(left, right.filter(col("k") < 0),
      "k", 1000).isEmpty)
  }

  test("repetitionMetrics: dup-word ratio and top-bigram dominance; 1-word doc excluded") {
    val docs = Seq((1L, "a a a b"), (2L, "x")).toDF("doc_id", "text")
    val out = TextAnalysisOps.repetitionMetrics(docs, "doc_id", "text")
      .select("doc_id", "n_words", "dup_word_ratio", "top_bigram_n",
        "n_bigrams", "top_bigram_frac")
      .as[(Long, Int, Double, Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 4, 0.5, 2L, 3L, 0.6667)))
  }

  test("repetition_stats kernel matches the declarative formulation on tricky inputs") {
    val texts = Seq("", " ", "  ", "a", "a a a b", "a  b", "a b ",
      " a b", "x y x y x y", "über ü über ü", "a a", "tab\tkept one-token")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val kernel = df.select(col("id"),
        graft.functions.RepetitionStats.repetitionStats(col("text")).as("r"))
      .select(col("id"), col("r.n_words"), col("r.n_distinct_words"),
        col("r.top_bigram_n"), col("r.n_bigrams"))
      .as[(Long, Int, Int, Long, Long)].collect().sortBy(_._1).toSeq
    val w = split(col("text"), " ")
    val declarative = df.select(col("id"), size(w).as("nw"),
        size(array_distinct(w)).as("nd"),
        when(size(w) >= 2, aggregate(
          array_sort(transform(sequence(lit(1), size(w) - 1),
            i => concat(element_at(w, i), lit(" "), element_at(w, i + 1)))),
          struct(lit("").as("p"), lit(0L).as("r"), lit(0L).as("b")),
          (acc, x) => {
            val run = when(x === acc.getField("p"), acc.getField("r") + 1)
              .otherwise(lit(1L))
            struct(x.as("p"), run.as("r"),
              greatest(acc.getField("b"), run).as("b"))
          },
          acc => acc.getField("b"))).otherwise(lit(0L)).as("top"),
        when(size(w) >= 2, (size(w) - 1).cast("long")).otherwise(lit(0L))
          .as("nb"))
      .as[(Long, Int, Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(kernel == declarative)
  }

  test("htmlExtract strips blocks and tags, decodes entities single-pass, collapses whitespace") {
    val rows = Seq(
      // script CONTENT carrying markup must go with the block (lazy
      // match to the first real close tag), and "&amp;lt;" must decode
      // to the literal "&lt;", never "<" (single-pass entity rule)
      (1L, "<html><body><p>hello &amp;lt; world</p>" +
        "<script>var a = '<x>';</script></body></html>"),
      (2L, "<div>a\n\nb\tc</div>"),
      (3L, "plain &nbsp; text &#39;q&#39; &quot;z&quot;"),
      (4L, "<style type=\"text/css\">p > a { color: red; }</style>kept")
    ).toDF("id", "html")
    val got = TextAnalysisOps.htmlExtract(rows, "id", "html")
      .as[(Long, String, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("hello &lt; world", 16)))
    assert(got(2L) == (("a b c", 5)))
    assert(got(3L) == (("plain text 'q' \"z\"", 18)))
    assert(got(4L) == (("kept", 4)))
  }

  test("redact replaces emails and long digit runs, counts matches") {
    val docs = Seq((1L, "mail bob@x.com or call 12345 ext 12"))
      .toDF("doc_id", "text")
    val out = TextAnalysisOps.redact(docs, "doc_id", "text")
      .as[(Long, Int, Int, String)].collect().head
    assert(out == ((1L, 1, 1, "mail <EMAIL> or call <NUM> ext 12")))
  }

  test("stratifiedHashSample: deterministic, rate-0 drops all, rate-100 keeps all") {
    val docs = (1L to 50L).map(i => (i, if (i % 2 == 0) "ev" else "odd"))
      .toDF("doc_id", "source")
    val all = TextAnalysisOps.stratifiedHashSample(
      docs, "doc_id", "source", Map("ev" -> 100), defaultPct = 0)
      .as[(Long, String)].collect().toSet
    assert(all.map(_._1) == (2L to 50L by 2).toSet)
    val half = TextAnalysisOps.stratifiedHashSample(
      docs, "doc_id", "source", Map.empty, defaultPct = 40)
    assert(half.collect().toSet == half.collect().toSet) // reproducible
    assert(half.count() > 0 && half.count() < 50)
  }

  test("VectorMeanAgg: element-wise mean; null/empty rows skipped") {
    val vecs = Seq(
      (1L, Array(1f, 2f)), (1L, Array(3f, 6f)),
      (2L, Array(10f, 20f)),
      (2L, null.asInstanceOf[Array[Float]]),
      (2L, Array.empty[Float]), // failed embedding — must not poison the group
      (3L, null.asInstanceOf[Array[Float]]),
      (3L, Array.empty[Float])
    ).toDF("grp", "v")
    // null and empty are skipped in ANY encounter order, so this holds
    // across partitionings
    val out = vecs.groupBy("grp")
      .agg(VectorMeanAgg.vecMean(col("v")).as("m"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(out(1L) == Seq(2.0, 4.0))
    assert(out(2L) == Seq(10.0, 20.0))
    assert(out(3L) == null) // nothing to average
  }

  test("VectorMeanAgg: ragged minority loses to the heavier buffer") {
    // mixed dimensionality is contractually malformed; the defined part
    // is that a heavier (more rows) buffer survives a merge and a
    // mismatched input row is skipped. Single partition pins encounter
    // order so the assertion is deterministic.
    val vecs = Seq(
      (2L, Array(10f, 20f)), (2L, Array(30f, 40f)),
      (2L, Array(1f, 2f, 3f)) // ragged minority
    ).toDF("grp", "v").coalesce(1)
    val out = vecs.groupBy("grp")
      .agg(VectorMeanAgg.vecMean(col("v")).as("m"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(out(2L) == Seq(20.0, 30.0))
  }

  test("MultiPointAgg gathers geometries across rows with partial-agg merge") {
    import graft.model.Geometry
    val rows = Seq(
      (1L, Option(Geometry("Point", Seq(Seq(1.0, 2.0))))),
      (1L, Option(Geometry("Point", Seq(Seq(3.0, 4.0))))),
      (2L, Option(Geometry("Point", Seq(Seq(5.0, 6.0))))),
      (3L, Option.empty[Geometry]),
      // a SINGLE MultiPoint input must come back unchanged, not be
      // relabeled Point because it happens to hold one coordinate
      (4L, Option(Geometry("MultiPoint", Seq(Seq(7.0, 8.0))))))
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[(Long, Option[Geometry])])
    val out = ds.groupByKey(_._1)
      .mapValues(_._2)
      .agg(MultiPointAgg.asColumn)
      .collect().toMap
    // merge order across partitions is not deterministic — compare sets
    assert(out(1L).map(_.`type`).contains("MultiPoint"))
    assert(out(1L).get.coordinates.toSet ==
      Set(Seq(1.0, 2.0), Seq(3.0, 4.0)))
    assert(out(2L).contains(Geometry("Point", Seq(Seq(5.0, 6.0)))))
    assert(out(3L).isEmpty)
    assert(out(4L).contains(Geometry("MultiPoint", Seq(Seq(7.0, 8.0)))))
  }

  test("packBins fills fixed-budget bins in id order per stratum") {
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "a b", "s1"), (3L, "a b c d", "s1"),
      (4L, "x", "s2")).toDF("doc_id", "text", "source")
    val out = TextAnalysisOps.packBins(docs, "doc_id", "text", "source", 5)
      .select("doc_id", "n_tokens", "cum", "bin")
      .as[(Long, Int, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3, 3L, 0)))
    assert(out(2L) == ((2, 5L, 0)))
    assert(out(3L) == ((4, 9L, 1))) // preceding cum 5 ≥ budget → next bin
    assert(out(4L) == ((1, 1L, 0)))
  }

  test("funnel: greedy ordered-step reach per user") {
    val t = (s: Int) => java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusSeconds(s))
    val ev = Seq(
      // user 1 completes in order
      (1L, t(0), 10L, "view"), (2L, t(1), 10L, "click"),
      (3L, t(2), 10L, "purchase"),
      // user 2: purchase BEFORE click → only 2 steps reached
      (4L, t(0), 20L, "view"), (5L, t(1), 20L, "purchase"),
      (6L, t(2), 20L, "click"),
      // user 3: never views
      (7L, t(0), 30L, "click"), (8L, t(1), 30L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventOps.funnel(ev, Seq("view", "click", "purchase"))
      .as[(Long, Int, Boolean)].collect().toSet
    assert(out == Set((10L, 3, true), (20L, 2, false), (30L, 0, false)))
  }

  test("retention: cohort by first-event week, distinct users per offset") {
    // Instant-based, not LocalDateTime: the session timezone is pinned
    // UTC, and a JVM-default-zone timestamp east of UTC would shift
    // midnight onto the previous UTC date (and the cohort to week -1)
    val t = (d: Int) => java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T12:00:00Z")
        .plus(java.time.Duration.ofDays(d)))
    val ev = Seq(
      (1L, t(0), 10L),  // u10 cohort week 0
      (2L, t(8), 10L),  // returns week 1
      (3L, t(8), 20L),  // u20 cohort week 1
      (4L, t(9), 20L),  // same week → one distinct
      (5L, t(22), 10L)) // u10 returns week 3
      .toDF("event_id", "ts", "user_id")
    val out = EventOps.retention(ev)
      .as[(Int, Int, Long)].collect().toSet
    assert(out == Set((0, 0, 1L), (0, 1, 1L), (0, 3, 1L), (1, 0, 1L)))
  }

  test("transitions counts consecutive event-type pairs with mean gap") {
    val ts = (s: Int) => java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(s))
    val ev = Seq(
      (1L, ts(0), 10L, "click", 1.0),
      (2L, ts(60), 10L, "view", 1.0),
      (3L, ts(120), 10L, "purchase", 1.0),
      (4L, ts(0), 20L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.transitions(ev)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out == Map(
      ("click", "view") -> ((1L, 60.0)),
      ("view", "purchase") -> ((1L, 60.0))))
  }

  test("rolling min-hash matches brute-force polynomial eval; short text null") {
    def brute(s: String, w: Int): Option[Long] = {
      val b = s.getBytes("UTF-8")
      if (b.length < w) None
      else Some((0 to b.length - w).map { j =>
        (0 until w).map(t =>
          BigInt(b(j + t) & 0xff) * BigInt(257).pow(w - 1 - t)).sum
          .mod(BigInt(2147483647)).toLong
      }.min)
    }
    val samples = Seq("the quick brown fox", "aaaaaaaaaa", "short", "",
      "exactly8", "x" * 200 + "needle in the haystack")
    val df2 = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
    val native = df2.select(col("id"),
      graft.functions.RollingHash.rollingMinHash(col("text"), 8))
      .as[(Long, Option[Long])].collect().toMap
    samples.zipWithIndex.foreach { case (s, i) =>
      assert(native(i.toLong) == brute(s, 8), s"sample $i: '$s'")
    }
  }

  test("KMV sketch estimate lands near the true distinct count") {
    val docs = (1L to 200L).map(i => (i, s"unique document number $i", "s"))
      .toDF("doc_id", "text", "source")
    val hashed = docs.select(col("source"),
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    val topk = graft.plans.TopK.perKey(hashed, Seq("source"),
      Seq(col("h").asc), 16)
    val (nKept, hk) = topk.groupBy("source")
      .agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
      .select("n", "hk").as[(Long, Long)].head()
    assert(nKept == 16L)
    val est = 15.0 / (hk / 1152921504606846976.0)
    assert(est > 100 && est < 400, s"estimate $est for true 200")
  }

  test("multimodal: asset schema, decode batching, frame offsets") {
    val assets = MultimodalOps.toAssets(df, "doc_id", "text")
    assert(assets.schema.fieldNames.toSeq ==
      Seq("asset_id", "content", "meta"))
    val feats = MultimodalOps.decodeFeatures(assets)
      .select("asset_id", "features")
      .as[(Long, Seq[Double])].collect().toMap
    assert(feats(1L).size == 8)
    assert(feats(1L) == feats(4L)) // same bytes → same stub features
    assert(feats.values.flatten.forall(v => v >= 0.0 && v <= 1.0))
    val frames = MultimodalOps.frameSampleOffsets(assets, 10)
      .filter(col("asset_id") === 5).select("frame_off")
      .as[Long].collect().toSeq.sorted
    assert(frames == Seq(0L)) // "tiny" = 4 bytes → single frame at 0
  }

  test("multimodal: byte-range chunk manifest with tail remainder") {
    val assets = MultimodalOps.toAssets(df, "doc_id", "text")
    // doc 1 = 43 bytes at 16-byte chunks → 16, 16, 11
    val chunks = MultimodalOps.byteChunks(assets, 16)
      .filter(col("asset_id") === 1)
      .select("chunk_id", "offset", "length")
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(chunks == Seq((0, 0L, 16L), (1, 16L, 16L), (2, 32L, 11L)))
    // empty payload → no chunks (and no sequence(0,-1) throw)
    val empty = Seq((9L, "")).toDF("doc_id", "text")
    assert(MultimodalOps.byteChunks(
      MultimodalOps.toAssets(empty, "doc_id", "text"), 16).count() == 0)
  }

  test("multimodal: resize plan preserves aspect, never upscales, integer-exact") {
    val dims = Seq(
      (1L, "image", 3840, 2160),  // downscale: long side 3840 → 512
      (2L, "image", 400, 300),    // under maxDim: untouched
      (3L, "video", 512, 512),    // exactly maxDim: untouched
      (4L, "image", 100, 2000)    // portrait: height is the long side
    ).toDF("asset_id", "kind", "src_w", "src_h")
    val out = MultimodalOps.resizePlan(dims, 512)
      .select("asset_id", "dst_w", "dst_h", "downscaled", "est_bytes")
      .as[(Long, Int, Int, Boolean, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) == ((512, 288, true, 512L * 288 * 3)))
    assert(out(2L) == ((400, 300, false, 400L * 300 * 3)))
    assert(out(3L) == ((512, 512, false, 512L * 512 * 3)))
    // floor(100 * 512 / 2000) = 25; aspect ratio preserved to the floor
    assert(out(4L) == ((25, 512, true, 25L * 512 * 3)))
  }

  test("asOfNearest: direction choice, past tie-break, tolerance, no-match nulls") {
    val lts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val left = Seq(
      (100L, 1L, lts(1000)), // clicks at 990 (past,10) and 1005 (fut,5) → future wins
      (101L, 1L, lts(2000)), // clicks at 1995 and 2005 → tie |5| → past wins
      (102L, 1L, lts(5000)), // nearest click 2005 → |2995| > tol 60 → null
      (103L, 2L, lts(1000))  // keyless → null
    ).toDF("pid", "k", "t")
    val right = Seq(
      (9L, 1L, lts(990)), (10L, 1L, lts(1005)),
      (11L, 1L, lts(1995)), (12L, 1L, lts(2005))
    ).toDF("cid", "k", "t")
    val out = EventOps.asOfNearest(left, right, "k", "t",
        toleranceUs = 60000000L, rightCols = Seq("cid"))
      .select(col("pid"), col("_m").getField("cid").as("cid"),
        col("delta_us"))
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(100L) == ((Some(10L), Some(5000000L))))
    assert(out(101L) == ((Some(11L), Some(5000000L))))
    assert(out(102L) == ((None, None)))
    assert(out(103L) == ((None, None)))
  }

  test("asOfNearest: duplicate right (key, ts) rows resolve to the max payload, deterministically") {
    val lts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val left = Seq((100L, 1L, lts(1000))).toDF("pid", "k", "t")
    // two right rows at the identical (key, ts) — the window's total
    // order (…, _r asc) must pick the max struct = max cid, whatever
    // the partition layout; shuffle the input across partitions both
    // ways to catch an order-dependent winner
    val dup = Seq((7L, 1L, lts(995)), (9L, 1L, lts(995)))
    for (r <- Seq(dup, dup.reverse)) {
      val right = r.toDF("cid", "k", "t").repartition(8)
      val got = EventOps.asOfNearest(left, right, "k", "t",
          toleranceUs = 60000000L, rightCols = Seq("cid"))
        .select(col("_m").getField("cid")).as[Long].collect().toSeq
      assert(got == Seq(9L))
    }
  }

  test("coalesceIntervals: nested + touching + disjoint spans merge exactly") {
    val iv = Seq(
      (1L, 0L, 100L),   // opens span A
      (1L, 10L, 20L),   // nested inside A — must not close it
      (1L, 100L, 150L), // touches A's running max end — merges
      (1L, 151L, 160L), // strictly after — new span
      (2L, 5L, 6L)
    ).toDF("k", "s", "e")
    val out = EventOps.coalesceIntervals(iv, "k", "s", "e")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 0L, 150L, 3L), (1L, 151L, 160L, 1L),
      (2L, 5L, 6L, 1L)))
  }

  test("mmrRerank: diversity term displaces a near-dup of the first pick") {
    // c2 is more relevant than c3 but nearly identical to the first
    // pick c1 — MMR must take c3 (pure relevance would take c2):
    // step2 scores (1e-5): c2 = 7*8500-3*10000 = 29500 < c3 = 7*5000-3*1000 = 32000
    val cand = Seq(
      (1L, 1L, 0.90), (1L, 2L, 0.85), (1L, 3L, 0.50)
    ).toDF("query_id", "cand_id", "simq")
    val pairs = Seq(
      (1L, 2L, 1L, 1.0), (1L, 1L, 2L, 1.0),
      (1L, 3L, 1L, 0.10), (1L, 1L, 3L, 0.10),
      (1L, 3L, 2L, 0.10), (1L, 2L, 3L, 0.10)
    ).toDF("query_id", "pa", "pb", "simab")
    val out = SimilarityOps.mmrRerank(cand, pairs, k = 2, lambdaTenths = 7)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2)
    assert(out.toSeq == Seq((1L, 1, 1L, 63000L), (1L, 2, 3L, 32000L)))
  }

  test("binaryNearDupPairs: identical payloads pair, disjoint don't, empties drop") {
    val assets = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different bytes with no shared sixteen-byte window"),
      (4L, "")
    ).toDF("asset_id", "payload")
      .select(col("asset_id"), col("payload").cast("binary").as("content"))
    val pairs = MultimodalOps.binaryNearDupPairs(assets)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("cdcChunkKeys: boundaries resync across an insertion; chunk law and in-band nulls hold") {
    // one deterministic ~800-byte payload and its 11-byte-spliced twin
    val rnd = new java.util.SplittableRandom(42L)
    val base = Array.fill[Byte](800)(rnd.nextInt(256).toByte)
    val spliced = base.take(400) ++
      Array.tabulate[Byte](11)(t => (t * 13 + 7).toByte) ++ base.drop(400)
    val assets = Seq(1L -> base, 2L -> spliced, 3L -> Array.empty[Byte])
      .toDF("asset_id", "content")
    val rows = MultimodalOps.cdcChunkKeys(assets)
      .select(col("asset_id"), col("chunk_idx"), col("chunk_key"))
      .as[(Long, Option[Long], Option[String])].collect()
    val byId = rows.groupBy(_._1)
    // empty payload → one in-band null row
    assert(byId(3L).toSeq == Seq((3L, None, None)))
    val k1 = byId(1L).sortBy(_._2).flatMap(_._3).toSeq
    val k2 = byId(2L).sortBy(_._2).flatMap(_._3).toSeq
    // chunk-length law: every chunk in [minChunk, maxChunk] except the tail
    def lens(id: Long) = {
      val n = byId(id).length
      assert(n >= 800 / 128, s"id=$id suspiciously few chunks: $n")
      n
    }
    lens(1L); lens(2L)
    // the CDC property: the spliced twin SHARES most chunk keys — the
    // prefix before the splice verbatim, and the suffix after the
    // boundaries resync — where an 11-byte shift breaks every
    // fixed-stride gram past the splice point
    val shared = k1.toSet.intersect(k2.toSet).size
    assert(shared >= k1.size - 3,
      s"CDC resync failed: only $shared of ${k1.size} chunks survive the splice")
    assert(k1.toSet != k2.toSet, "splice region must change at least one chunk")
    // determinism: re-running yields identical keys
    val again = MultimodalOps.cdcChunkKeys(assets)
      .filter(col("asset_id") === 1L).orderBy("chunk_idx")
      .select("chunk_key").as[String].collect().toSeq
    assert(again == k1)
  }

  test("lshRecallEval: truth matches brute-force jaccard; caught = candidate membership") {
    // 6 docs in two near-dup pairs plus noise; samplePct=100 so every
    // doc is a probe and the truth set is the full >=theta pair set
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),   // high-j twin of 1
      (3L, "p q r s t u v w"),
      (4L, "p q r s t u v y"),   // high-j twin of 3
      (5L, "m n o a b c z k"),
      (6L, "z z z z z z z z")
    ).toDF("doc_id", "text")
    val outAll = DedupOps.lshRecallEval(docs, "doc_id", "text",
        shingleK = 3, numPerm = 16, bands = 4, theta = 0.2,
        samplePct = 100)
    // default cap binds nothing here — every row is certified exact
    assert(outAll.filter(col("a_capped") =!= 0L ||
      col("b_capped") =!= 0L).count() == 0)
    val out = outAll.select("a", "b", "jaccard", "caught")
      .as[(Long, Long, Double, Boolean)].collect()
    // brute-force 3-gram jaccard model
    def grams(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val byId = docs.as[(Long, String)].collect().toMap
    val model = (for {
      a <- byId.keys; b <- byId.keys if a != b
      ga = grams(byId(a)); gb = grams(byId(b))
      j = (ga & gb).size.toDouble / (ga | gb).size if j + 1e-9 >= 0.2
    } yield (a, b) -> (math.rint(j * 10000) / 10000)).toMap
    assert(out.map(r => (r._1, r._2) -> r._3).toMap == model)
    val cand = DedupOps.minhashCandidates(docs, "doc_id", "text", 3, 16, 4)
      .as[(Long, Long)].collect().toSet
    out.foreach { case (a, b, _, caught) =>
      assert(caught == cand.contains((math.min(a, b), math.max(a, b))),
        s"($a,$b)")
    }
    // both branches present on this fixture
    assert(out.exists(_._4) && out.exists(!_._4))
  }

  test("lshRecallEval: maxTruthDf drops hot grams from the capped universe, certificates in-band") {
    // "x y z" is the planted saturated gram (df = 4, every doc); docs
    // 1/2 are twins sharing their whole tail, docs 3/4 share nothing
    // beyond the hot gram — under cap 3 the hot gram leaves the truth
    // universe, so 3/4's only overlap vanishes WITH the pair, while
    // 1/2 keep capped-universe jaccard 1.0 and carry the 1/1
    // dropped-gram certificates
    val docs = Seq(
      (1L, "x y z a b c d e"),
      (2L, "x y z a b c d e"),
      (3L, "x y z p q r s t"),
      (4L, "x y z m n o u v")
    ).toDF("doc_id", "text")
    val out = DedupOps.lshRecallEval(docs, "doc_id", "text",
        shingleK = 3, numPerm = 16, bands = 4, theta = 0.2,
        samplePct = 100, maxTruthDf = 3)
      .select("a", "b", "jaccard", "a_capped", "b_capped")
      .as[(Long, Long, Double, Long, Long)].collect().toSet
    // grams/doc = 6; hot gram capped -> 5 kept; twins share all 5.
    // NOTE: "y z a" etc. differ per doc tail, so only the pure-tail
    // grams + bridge grams within the twin pair coincide.
    assert(out.map(r => (r._1, r._2)) == Set((1L, 2L), (2L, 1L)))
    assert(out.forall(r => r._3 == 1.0 && r._4 == 1L && r._5 == 1L))
    // the bias ledger: exactly the planted gram, df 4, pair-mass 6
    val rep = DedupOps.lshTruthCapReport(docs, "doc_id", "text",
        shingleK = 3, maxTruthDf = 3)
      .as[(String, Long, Long)].collect()
    assert(rep.length == 1 && rep(0)._2 == 4L && rep(0)._3 == 6L)
    // cap wide enough to keep everything == uncapped truth: 3/4's
    // hot-gram-only pair reappears (j = 1/11, needs the low theta)
    val wide = DedupOps.lshRecallEval(docs, "doc_id", "text",
        shingleK = 3, numPerm = 16, bands = 4, theta = 0.05,
        samplePct = 100, maxTruthDf = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(wide.contains((3L, 4L)) && wide.contains((1L, 2L)))
  }

  test("radiusJoin equals the predicate cross join, exactly once, boundary inclusive") {
    // random points incl. NEGATIVE coords (floor-div cell assignment,
    // not truncation) and a coincident pair (d2 = 0)
    val a = spark.range(40)
      .withColumn("ai", col("id"))
      .withColumn("x", pmod(hash(col("id")), lit(400)) - 200)
      .withColumn("y", pmod(hash(col("id"), lit(1)), lit(400)) - 200)
      .select("ai", "x", "y")
    val b = spark.range(60)
      .withColumn("bi", col("id"))
      .withColumn("u", pmod(hash(col("id"), lit(2)), lit(400)) - 200)
      .withColumn("v", pmod(hash(col("id"), lit(3)), lit(400)) - 200)
      .select("bi", "u", "v")
    val r = 60L
    val got = SpatialOps.radiusJoin(a, "x", "y", b, "u", "v", r)
      .select("ai", "bi", "d2").as[(Long, Long, Long)].collect()
    // exactly-once: no duplicate pairs from the 3x3 replication
    assert(got.length == got.toSet.size)
    val pts = a.as[(Long, Long, Long)].collect()
    val qts = b.as[(Long, Long, Long)].collect()
    val expected = (for {
      (ai, x, y) <- pts; (bi, u, v) <- qts
      d2 = (x - u) * (x - u) + (y - v) * (y - v) if d2 <= r * r
    } yield (ai, bi, d2)).toSet
    assert(got.toSet == expected)
    assert(expected.nonEmpty && expected.size < pts.length * qts.length)
    // boundary: d2 == r*r kept, r*r + 1 dropped
    val pa = Seq((1L, 0L, 0L)).toDF("ai", "x", "y")
    val pb = Seq((1L, 3L, 4L), (2L, 0L, 5L), (3L, 1L, 5L))
      .toDF("bi", "u", "v")
    val edge = SpatialOps.radiusJoin(pa, "x", "y", pb, "u", "v", 5L)
      .select("bi", "d2").as[(Long, Long)].collect().toSet
    assert(edge == Set((1L, 25L), (2L, 25L)))
  }

  test("containsJoin equals the predicate join, exactly once, inclusive edges, guard fires") {
    val boxes = spark.range(25)
      .withColumn("bid", col("id"))
      .withColumn("bx", pmod(hash(col("id")), lit(300)) - 150)
      .withColumn("by", pmod(hash(col("id"), lit(1)), lit(300)) - 150)
      .withColumn("hw", pmod(hash(col("id"), lit(2)), lit(80)) + 5)
      .withColumn("hh", pmod(hash(col("id"), lit(3)), lit(80)) + 5)
      .select("bid", "bx", "by", "hw", "hh")
    val pts = spark.range(80)
      .withColumn("pid", col("id"))
      .withColumn("px", pmod(hash(col("id"), lit(4)), lit(300)) - 150)
      .withColumn("py", pmod(hash(col("id"), lit(5)), lit(300)) - 150)
      .select("pid", "px", "py")
    for (cellSize <- Seq(7L, 40L, 500L)) {
      val got = SpatialOps.containsJoin(boxes, "bx", "by", "hw", "hh",
          pts, "px", "py", cell = cellSize)
        .select("bid", "pid").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"dup pairs at cell=$cellSize")
      val bs = boxes.as[(Long, Long, Long, Long, Long)].collect()
      val ps = pts.as[(Long, Long, Long)].collect()
      val expected = (for {
        (bid, bx, by, hw, hh) <- bs; (pid, px, py) <- ps
        if math.abs(px - bx) <= hw && math.abs(py - by) <= hh
      } yield (bid, pid)).toSet
      assert(got.toSet == expected, s"cell=$cellSize")
      assert(expected.nonEmpty && expected.size < bs.length * ps.length)
    }
    // inclusive edge: point exactly on the box boundary is inside
    val b1 = Seq((1L, 0L, 0L, 10L, 10L)).toDF("bid", "bx", "by", "hw", "hh")
    val p1 = Seq((1L, 10L, 10L), (2L, 11L, 0L)).toDF("pid", "px", "py")
    val edge = SpatialOps.containsJoin(b1, "bx", "by", "hw", "hh",
        p1, "px", "py", cell = 10L)
      .select("pid").as[Long].collect().toSet
    assert(edge == Set(1L))
    // fan-out guard: a box covering more cells than the cap fails loudly
    val wide = Seq((1L, 0L, 0L, 1000L, 1000L))
      .toDF("bid", "bx", "by", "hw", "hh")
    val err = intercept[Exception] {
      SpatialOps.containsJoin(wide, "bx", "by", "hw", "hh",
        p1, "px", "py", cell = 10L, maxCellsPerBox = 16L).collect()
    }
    assert(err.getMessage.contains("covers more than"), err.getMessage)
  }

  test("point index: incremental radius join equals the full join restricted to batch pairs; geometry persisted; guards fire") {
    val pts = spark.range(400).select(col("id"),
      (pmod(hash(col("id")), lit(2000)) - 1000).cast("long").as("x"),
      (pmod(hash(col("id"), lit(1)), lit(2000)) - 1000).cast("long").as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft-ptidx")
      .toString
    SpatialOps.pointIndexBuild(
      pts.filter(col("id") % 5 >= 1 && col("id") % 5 <= 3),
      dir, "id", "x", "y", cell = 150L)
    SpatialOps.pointIndexAppend(
      pts.filter(col("id") % 5 === 4), dir, "id", "x", "y")
    val batch = pts.filter(col("id") % 5 === 0)
    val got = SpatialOps.radiusJoinIncremental(batch, dir, "id", "x", "y",
        radius = 120L, expectedCells = 10000L)
      .as[(Long, Long, Long)].collect()
    assert(got.length == got.toSet.size) // exactly once under ×9 probes
    val all = pts.as[(Long, Long, Long)].collect()
    val expected = (for {
      (a, ax, ay) <- all if a % 5 == 0
      (b, bx, by) <- all if b % 5 != 0
      d2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
      if d2 <= 120L * 120L
    } yield (a, b, d2)).toSet
    assert(got.toSet == expected)
    assert(expected.nonEmpty)
    // both index halves load-bearing: the append (%5 == 4) must appear
    assert(got.exists(_._2 % 5 == 4) && got.exists(_._2 % 5 != 4))
    // radius wider than the persisted cell would silently miss pairs —
    // must be rejected, with the geometry read from the index not the
    // caller
    val wide = intercept[IllegalArgumentException] {
      SpatialOps.radiusJoinIncremental(batch, dir, "id", "x", "y",
        radius = 151L, expectedCells = 100L)
    }
    assert(wide.getMessage.contains("cell=150"), wide.getMessage)
    // a directory without grid metadata is not a point index
    val bare = java.nio.file.Files.createTempDirectory("graft-noidx")
      .toString
    val miss = intercept[IllegalArgumentException] {
      SpatialOps.radiusJoinIncremental(batch, bare, "id", "x", "y",
        radius = 100L, expectedCells = 100L)
    }
    assert(miss.getMessage.contains("_GRAFT_GRID"), miss.getMessage)
  }

  test("point index: a contiguous batch prunes to a fraction of the directories") {
    // corpus spans 4×4 tiles (cells 0..255 at cell=1, tile=64) → 16 of
    // the 64 possible directories hold data; a batch contained in ONE
    // tile must read exactly one
    val corpus = spark.range(4096).select(col("id"),
      (col("id") % 64 * 4).as("x"),
      ((col("id") / 64).cast("long") * 4).as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft-ptprune")
      .toString
    SpatialOps.pointIndexBuild(corpus, dir, "id", "x", "y", cell = 1L)
    val batch = spark.range(8).select((col("id") + 10000L).as("id"),
      (col("id") * 4 + 17).as("x"), (col("id") * 4 + 32).as("y"))
    val joined = SpatialOps.radiusJoinIncremental(batch, dir, "id",
      "x", "y", radius = 1L, expectedCells = 1000L)
    val got = joined.as[(Long, Long, Long)].collect()
    // semantics first: equals brute force at radius 1
    val cs = corpus.as[(Long, Long, Long)].collect()
    val bs = batch.as[(Long, Long, Long)].collect()
    val expected = (for {
      (a, ax, ay) <- bs; (b, bx, by) <- cs
      d2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by) if d2 <= 1L
    } yield (a, b, d2)).toSet
    assert(got.toSet == expected)
    assert(expected.size == 8, s"fixture drifted: ${expected.size}")
    // plan: the index scan SELECTS one hive directory after partition
    // pruning, not the 16 the build wrote (selectedPartitions is the
    // post-pruning listing; df.inputFiles would show the pre-pruning
    // catalog and always list all 16)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, plan.toString.take(2000))
    val parts = scans.map(_.selectedPartitions.partitionCount)
    assert(parts.contains(1), s"partitions selected per scan: $parts")
    val bktsWritten = corpus.sparkSession.read.parquet(dir).inputFiles
      .flatMap("_bkt=([0-9]+)".r.findFirstMatchIn(_).map(_.group(1)))
      .toSet
    assert(bktsWritten.size == 16, s"fixture drifted: $bktsWritten")
  }

  /** rayCastInside's rule in plain Scala: even-odd crossing count,
    * strict straddle on both endpoints, cross-multiplied intersection
    * comparison sign-flipped with dy. */
  private def insideModel(poly: Seq[(Long, Long)], px: Long, py: Long)
      : Boolean = {
    val n = poly.length
    var c = 0
    for (i <- 0 until n) {
      val (x1, y1) = poly(i)
      val (x2, y2) = poly((i + 1) % n)
      val dy = y2 - y1
      if ((y1 > py) != (y2 > py)) {
        val lhs = (px - x1) * dy - (x2 - x1) * (py - y1)
        if ((dy > 0 && lhs < 0) || (dy < 0 && lhs > 0)) c += 1
      }
    }
    c % 2 == 1
  }

  test("polygonContainsJoin equals the predicate join on star-shaped and concave rings, exactly once, guard fires") {
    // random star-shaped hexagons (six angularly-ordered directions ×
    // hash-derived per-vertex scales — simple by construction, often
    // concave because adjacent scales vary 6×)
    val dirs = Seq((2L, 0L), (1L, 2L), (-1L, 2L), (-2L, 0L),
      (-1L, -2L), (1L, -2L))
    def scaleOf(id: Long, v: Int): Long =
      math.floorMod(scala.util.hashing.MurmurHash3
        .stringHash(s"poly-$id-$v"), 80) + 15L
    val polyRows = (0L until 20L).map { id =>
      val cx = math.floorMod(
        scala.util.hashing.MurmurHash3.stringHash(s"cx-$id"), 600) - 300L
      val cy = math.floorMod(
        scala.util.hashing.MurmurHash3.stringHash(s"cy-$id"), 600) - 300L
      val ring = dirs.zipWithIndex.map { case ((dx, dy), v) =>
        (cx + dx * scaleOf(id, v), cy + dy * scaleOf(id, v))
      }
      (id, ring)
    }
    val pointRows = (0L until 300L).map { pid =>
      (pid,
        math.floorMod(scala.util.hashing.MurmurHash3
          .stringHash(s"px-$pid"), 800) - 400L,
        math.floorMod(scala.util.hashing.MurmurHash3
          .stringHash(s"py-$pid"), 800) - 400L)
    }
    val polys = polyRows
      .map { case (id, ring) => (id, ring.map { case (x, y) => (x, y) }) }
      .toDF("pid", "ring")
      .select(col("pid"), transform(col("ring"),
        v => struct(v.getField("_1").as("x"), v.getField("_2").as("y")))
        .as("poly"))
    val pts = pointRows.toDF("qid", "px", "py")
    for (cellSize <- Seq(25L, 120L, 2000L)) {
      val got = SpatialOps.polygonContainsJoin(polys, "poly",
          pts, "px", "py", cell = cellSize)
        .select("pid", "qid").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"dup pairs at cell=$cellSize")
      val expected = (for {
        (id, ring) <- polyRows; (qid, px, py) <- pointRows
        if insideModel(ring, px, py)
      } yield (id, qid)).toSet
      assert(got.toSet == expected, s"cell=$cellSize")
      assert(expected.nonEmpty &&
        expected.size < polyRows.length * pointRows.length)
    }
    // concave canary: L-shape — the notch point is OUTSIDE even though
    // it is inside the bounding box (a box join would keep it)
    val ell = Seq((0L, 0L), (10L, 0L), (10L, 5L), (5L, 5L),
      (5L, 10L), (0L, 10L))
    val ellDf = Seq((1L, ell)).toDF("pid", "ring")
      .select(col("pid"), transform(col("ring"),
        v => struct(v.getField("_1").as("x"), v.getField("_2").as("y")))
        .as("poly"))
    val probe = Seq((1L, 2L, 7L), (2L, 7L, 7L), (3L, 2L, 2L))
      .toDF("qid", "px", "py")
    val kept = SpatialOps.polygonContainsJoin(ellDf, "poly",
        probe, "px", "py", cell = 8L)
      .select("qid").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
    assert(insideModel(ell, 2L, 7L) && !insideModel(ell, 7L, 7L))
    // fan-out guard: a ring whose bbox covers more cells than the cap
    // fails loudly
    val err = intercept[Exception] {
      SpatialOps.polygonContainsJoin(ellDf, "poly",
        probe, "px", "py", cell = 1L, maxCellsPerPoly = 16L).collect()
    }
    assert(err.getMessage.contains("covers more than"), err.getMessage)
  }

  /** The operator's per-point quantization replayed in plain Scala —
    * same JVM trig, same (R·cosφ)·cosλ association, and Spark's
    * HALF_UP rounding (math.round differs at negative .5). */
  private def ecefQ(lonMicro: Long, latMicro: Long): (Long, Long, Long) = {
    def rnd(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val phi = latMicro.toDouble / 1e6 * SpatialOps.DegToRad
    val lam = lonMicro.toDouble / 1e6 * SpatialOps.DegToRad
    val r = SpatialOps.EarthRadiusM.toDouble
    (rnd(r * math.cos(phi) * math.cos(lam)),
     rnd(r * math.cos(phi) * math.sin(lam)),
     rnd(r * math.sin(phi)))
  }

  /** Deterministic pseudo-random microdegree cluster around a center,
    * spread ±3° so the 200 km radius has both match and no-match
    * pairs. */
  private def sphereCluster(seed: Long, n: Int, idBase: Long,
      lon0: Long, lat0: Long): Seq[(Long, Long, Long)] =
    (0 until n).map { i =>
      val h = (i * 2654435761L + seed * 40503L) & 0xffffffffL
      val g = (i * 2246822519L + seed * 65599L) & 0xffffffffL
      (idBase + i, lon0 + h % 6000001L - 3000000L,
        lat0 + g % 6000001L - 3000000L)
    }

  test("greatCircleRadiusJoin equals the quantized-chord cross join: " +
      "exactly once, antimeridian, near-pole, boundary sweep") {
    val r = 200000.0
    val cb = math.round(2.0 * SpatialOps.EarthRadiusM *
      math.sin(r / (2.0 * SpatialOps.EarthRadiusM)))
    // a side: planted geometry cases + a cluster near (10°E, 45°N)
    val aPts = Seq(
      (1L, 179999900L, 0L),          // antimeridian east rim
      (2L, 0L, 84999000L),           // near north pole
      (3L, 0L, 0L),                  // equator origin (boundary sweep anchor)
      (4L, -170000000L, -84999500L)  // near south pole, far-west lon
    ) ++ sphereCluster(7, 30, 100L, 10000000L, 45000000L)
    // b side: the planted partners + the ±radius boundary sweep + cluster
    val sweep = (0 until 19).map { j =>
      (300L + j, 1790000L + 1000L * j, 0L) // 1.790°..1.808° east of anchor
    }
    val bPts = Seq(
      (1L, -179999900L, 0L),         // ~22 m across the antimeridian
      (2L, 4000000L, 84999000L),     // 4° of lon at 85°N ≈ 39 km: inside
      (3L, 40000000L, 84999000L),    // 40° of lon at 85°N ≈ 388 km: outside
      (4L, -169000000L, -84999500L)  // 1° of lon at 85°S ≈ 10 km: inside
    ) ++ sweep ++ sphereCluster(13, 40, 500L, 10000000L, 45000000L)
    val a = aPts.toDF("ai", "alon", "alat")
    val b = bPts.toDF("bi", "blon", "blat")
    val got = SpatialOps.greatCircleRadiusJoin(a, "alon", "alat",
        b, "blon", "blat", r)
      .select("ai", "bi", "chord2").as[(Long, Long, Long)].collect()
    // exactly-once: the ×27 replication never double-counts a pair
    assert(got.length == got.toSet.size)
    val expected = (for {
      (ai, alon, alat) <- aPts; (bi, blon, blat) <- bPts
      (ax, ay, az) = ecefQ(alon, alat)
      (bx, by, bz) = ecefQ(blon, blat)
      c2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by) +
        (az - bz) * (az - bz)
      if c2 <= cb * cb
    } yield (ai, bi, c2)).toSet
    assert(got.toSet == expected)
    val pairs = expected.map(t => (t._1, t._2))
    // the geometry the lon/lat-grid lowerings miss actually fired:
    assert(pairs.contains((1L, 1L)), "antimeridian pair missed")
    assert(pairs.contains((2L, 2L)) && !pairs.contains((2L, 3L)),
      "near-pole wide-lon geometry wrong")
    assert(pairs.contains((4L, 4L)), "south-pole pair missed")
    // boundary sweep: the radius cut falls INSIDE the sweep — both
    // kept and dropped pairs exist among the ±1-chord probes
    val sweepHits = pairs.filter(p => p._1 == 3L && p._2 >= 300L)
    assert(sweepHits.nonEmpty && sweepHits.size < sweep.length,
      s"sweep not crossed: ${sweepHits.size}/${sweep.length}")
    // cluster genuinely mixes matches and non-matches
    val clusterPairs = pairs.filter(p => p._1 >= 100L && p._2 >= 500L)
    assert(clusterPairs.nonEmpty && clusterPairs.size < 30 * 40)
  }

  test("greatCircleKnn keeps the k nearest by chord2 with deterministic ties") {
    val r = 2000000.0
    val cb = math.round(2.0 * SpatialOps.EarthRadiusM *
      math.sin(r / (2.0 * SpatialOps.EarthRadiusM)))
    val aPts = sphereCluster(3, 25, 0L, -60000000L, -20000000L)
    val bPts = sphereCluster(11, 15, 100L, -60000000L, -20000000L)
    val a = aPts.toDF("ai", "alon", "alat")
    val b = bPts.toDF("bi", "blon", "blat")
    val got = SpatialOps.greatCircleKnn(a, "alon", "alat",
        b, "blon", "blat", r, k = 2, bKey = "bi", tieCol = "ai")
      .select("bi", "ai", "chord2").as[(Long, Long, Long)].collect()
    val cand = (for {
      (ai, alon, alat) <- aPts; (bi, blon, blat) <- bPts
      (ax, ay, az) = ecefQ(alon, alat)
      (bx, by, bz) = ecefQ(blon, blat)
      c2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by) +
        (az - bz) * (az - bz)
      if c2 <= cb * cb
    } yield (bi, ai, c2))
    val expected = cand.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy(t => (t._3, t._2)).take(2)
    }.toSet
    assert(got.toSet == expected)
    // k genuinely truncates somewhere (wide radius → >2 candidates)
    assert(cand.groupBy(_._1).exists(_._2.size > 2))
  }

  test("coalesceIntervalsBucketed equals the single-pass form at every width") {
    // deterministic pseudo-random intervals: clustered starts so spans
    // genuinely merge, lengths up to 40 so chains cross bucket
    // boundaries at the small widths (incl. intervals LONGER than a
    // whole bucket at width=16)
    val iv = spark.range(600)
      .withColumn("k", col("id") % 7)
      .withColumn("s", pmod(hash(col("id")), lit(500)) * 3)
      .withColumn("e", col("s") + 1 + pmod(hash(col("id"), lit(1)), lit(40)))
      .select("k", "s", "e")
    val expected = EventOps.coalesceIntervals(iv, "k", "s", "e")
      .as[(Long, Long, Long, Long)].collect().toSet
    for (width <- Seq(16L, 100L, 1000L, 1000000L)) {
      val got = EventOps.coalesceIntervalsBucketed(iv, "k", "s", "e", width)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expected, s"width=$width")
    }
  }

  test("event ops: tumbling/session/latest on a tiny frame") {
    val ev = Seq(
      (1L, "2024-01-01 00:05:00", 10L, "click", 1.0),
      (2L, "2024-01-01 00:50:00", 10L, "click", 2.0),
      (3L, "2024-01-01 02:00:00", 10L, "view", 4.0),
      (4L, "2024-01-01 00:10:00", 20L, "click", 8.0))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val tmb = EventOps.tumbling(ev, "1 hour")
      .as[(Long, String, Long, Double)].collect().toSet
    assert(tmb.contains((1704067200L, "click", 3L, 11.0)))
    val sess = EventOps.sessions(ev, "30 minutes")
      .select("user_id", "n_events").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    assert(sess(10L) == Seq(1L, 1L, 1L)) // 3 sessions (gaps 45m, 70m)
    assert(sess(20L) == Seq(1L))
    val latest = EventOps.latestPerUser(ev)
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(latest(10L) == 3L && latest(20L) == 4L)
  }

  test("band join counts preceding-window clicks per purchase") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 10L, "click", 1.0),   // 20m before → in
      (2L, "2024-01-01 00:10:00", 10L, "click", 1.0),   // 10m before → in
      (3L, "2024-01-01 00:20:00", 10L, "purchase", 5.0),
      (4L, "2024-01-01 00:20:00", 10L, "click", 1.0),   // same instant → out (strict <)
      (5L, "2023-12-31 23:40:00", 10L, "click", 1.0),   // 40m before → out
      (6L, "2024-01-01 01:00:00", 20L, "purchase", 7.0)) // no clicks → 0
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val out = EventOps.bandJoin(ev, "30 minutes")
      .as[(Long, Long, Long)].collect()
      .map { case (p, _, n) => p -> n }.toMap
    assert(out == Map(3L -> 2L, 6L -> 0L))
  }

  test("event ops: sliding windows multiply-assign; json key agg buckets") {
    val ev = Seq(
      (1L, "2024-01-01 00:05:00", 10L, "click", 1.0, """{"k":3}"""),
      (2L, "2024-01-01 00:50:00", 10L, "click", 2.0, """{"k":13}"""),
      (3L, "2024-01-01 02:00:00", 10L, "view", 4.0, """{"k":7}"""))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    // 1h windows sliding every 30m: each event lands in exactly 2 windows
    val sld = EventOps.sliding(ev, "1 hour", "30 minutes")
      .as[(Long, String, Long, Double)].collect()
    assert(sld.map(_._3).sum == 2L * 3)
    val click = sld.filter(_._2 == "click")
      .map(t => t._1 -> ((t._3, t._4))).toMap
    assert(click(1704065400L) == ((1L, 1.0))) // 23:30 window: event 1 only
    assert(click(1704067200L) == ((2L, 3.0))) // 00:00 window: events 1+2
    val jk = EventOps.jsonKeyAgg(ev)
      .as[(Int, Long, Double)].collect()
      .map { case (b, n, t) => b -> ((n, t)) }.toMap
    assert(jk(3) == ((2L, 3.0))) // k=3 and k=13 share bucket 3
    assert(jk(7) == ((1L, 4.0)))
  }

  test("randomProject: integer-exact micro sums against a reference fold") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.25f, 2.0f, 0.75f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = SimilarityOps.randomProject(df, dIn = 4, kOut = 4)
      .select("vec_id", "proj_micro", "proj")
      .as[(Long, Seq[Long], Seq[Double])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // reference: same md5-nibble sign matrix, same quantized fold
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Int = {
      val h = md.digest(s"rp_${i}_${j}".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) % 2 == 0) 1 else -1
    }
    val expected = (0 until 4).map { j =>
      vecs.head._2.zipWithIndex.map { case (x, i) =>
        math.round(x.toDouble * sign(i, j) * 1e6)
      }.sum
    }
    assert(out(1L)._1 == expected)
    // scaled view derives from the micro ints: micro / 1e6 / sqrt(k)
    assert(out(1L)._2 == expected.map(_ / 1e6 / 2.0))
    // zero vector projects to exact zeros
    assert(out(2L)._1 == Seq(0L, 0L, 0L, 0L))
    // determinism: a second invocation is bit-identical
    val again = SimilarityOps.randomProject(df, dIn = 4, kOut = 4)
      .select("vec_id", "proj_micro")
      .as[(Long, Seq[Long])].collect().map(t => t._1 -> t._2).toMap
    assert(again(1L) == expected)
  }

  test("randomProject: native kernel matches the declarative spec bit-for-bit") {
    // adversarial floats: exact half-micro rounding points both signs
    // (0.0000005f is NOT exactly half in binary — the declarative round
    // and the kernel must agree on whichever side it lands), null
    // slots, wrong-length and empty and null vectors, NaN/Inf
    // passthrough, subnormals, magnitudes that overflow long microunits
    val rnd = new scala.util.Random(13)
    val tricky: Seq[(Long, Array[java.lang.Float])] = Seq(
      1L -> Array[java.lang.Float](0.0000005f, -0.0000005f, 0.0000015f,
        -0.0000015f, 0.5f, -0.5f, 1.0f, -1.0f),
      2L -> Array.fill(8)(java.lang.Float.valueOf(0f)),
      3L -> Array.empty[java.lang.Float],            // wrong length
      4L -> null,                                    // null vector
      5L -> Array[java.lang.Float](1f, 2f, 3f),      // wrong length
      6L -> Array[java.lang.Float](null, 1f, 2f, 3f, 4f, 5f, 6f, 7f),
      9L -> Array[java.lang.Float](1e-38f, Float.MinPositiveValue,
        3.4e11f, -3.4e11f, 1e12f, -1e12f, 0.1f, 0.7f)
    ) ++ (10L to 50L).map { id =>
      id -> Array.fill(8)(java.lang.Float.valueOf(
        (rnd.nextFloat() - 0.5f) * math.pow(10, rnd.nextInt(10) - 5).toFloat))
    }
    val df = tricky.toDF("vec_id", "embedding")
    val native = SimilarityOps.randomProject(df, dIn = 8, kOut = 4)
      .as[(Long, Seq[Option[Long]], Seq[Option[Double]])]
      .collect().sortBy(_._1)
    val spec = SimilarityOps.randomProjectDeclarative(df, dIn = 8, kOut = 4)
      .as[(Long, Seq[Option[Long]], Seq[Option[Double]])]
      .collect().sortBy(_._1)
    assert(native.toSeq == spec.toSeq)
    // malformed inputs surface as a non-null array of kOut nulls
    assert(native.find(_._1 == 4L).get._2 == Seq(None, None, None, None))
    assert(native.find(_._1 == 6L).get._2 == Seq(None, None, None, None))
    // the declared ANSI divergence: NaN/Inf elements and micro
    // magnitudes >= 2^63 abort the declarative form under ANSI cast;
    // the kernel degrades them to the same all-null contract
    val ansi: Seq[(Long, Array[java.lang.Float])] = Seq(
      7L -> Array[java.lang.Float](Float.NaN, 1f, 2f, 3f, 4f, 5f, 6f, 7f),
      8L -> Array[java.lang.Float](Float.PositiveInfinity,
        Float.NegativeInfinity, 1f, 2f, 3f, 4f, 5f, 6f),
      9L -> Array[java.lang.Float](1e13f, -1e13f, 3.4e38f, -3.4e38f,
        1f, 2f, 3f, 4f))
    val adf = ansi.toDF("vec_id", "embedding")
    val nn = SimilarityOps.randomProject(adf, dIn = 8, kOut = 4)
      .as[(Long, Seq[Option[Long]], Seq[Option[Double]])].collect()
    assert(nn.forall(_._2 == Seq(None, None, None, None)))
    intercept[ArithmeticException] { // SparkArithmeticException: CAST_OVERFLOW
      SimilarityOps.randomProjectDeclarative(adf, dIn = 8, kOut = 4)
        .collect()
    }
    // and on real data at the production dimensions, the frames agree
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert(SimilarityOps.randomProject(emb, dIn = 64, kOut = 16)
      .except(SimilarityOps.randomProjectDeclarative(emb, dIn = 64, kOut = 16))
      .isEmpty)
  }

  test("dsirLogWeights: Scala-model equality + target-likeness ordering") {
    val target = Seq((100L, "alpha beta alpha beta"),
      (101L, "alpha beta gamma")).toDF("doc_id", "text")
    val rawRows = Seq((1L, "alpha beta alpha"),      // target-speak
      (2L, "delta epsilon zeta"),                    // disjoint
      (3L, "alpha delta"))                           // mixed
    val raw = rawRows.toDF("doc_id", "text")
    val out = TextAnalysisOps
      .dsirLogWeights(raw, target, "doc_id", "text", buckets = 64)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap

    // plain-Scala model: same md5 buckets, same add-0.5 smoothing
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(g: String) =
      java.lang.Long.parseLong(md5hex(s"dsir_$g").take(8), 16) % 64
    def grams(text: String): Seq[Long] = {
      val w = text.split(" ").toSeq
      (w ++ w.sliding(2).filter(_.size == 2).map(_.mkString(" ")))
        .map(bucket)
    }
    val rawB = rawRows.flatMap(r => grams(r._2))
    val tgtB = Seq("alpha beta alpha beta", "alpha beta gamma")
      .flatMap(grams)
    def dist(bs: Seq[Long]) = bs.groupBy(identity).map {
      case (b, xs) => b -> xs.size.toLong }
    val (rd, td) = (dist(rawB), dist(tgtB))
    val (tr, tt) = (rawB.size.toDouble, tgtB.size.toDouble)
    def lr(b: Long) =
      math.log((td.getOrElse(b, 0L) + 0.5) / (tt + 0.5 * 64)) -
      math.log((rd.getOrElse(b, 0L) + 0.5) / (tr + 0.5 * 64))
    def r4(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    rawRows.foreach { case (id, text) =>
      val gs = grams(text)
      val expected = (gs.size.toLong,
        r4(gs.groupBy(identity).map { case (b, xs) =>
          xs.size * lr(b) }.sum))
      assert(out(id) == expected, s"doc $id")
    }
    // semantic sanity: the target-speak doc outranks the disjoint one
    assert(out(1L)._2 > out(3L)._2 && out(3L)._2 > out(2L)._2)
  }

  test("vocabCoverage: deterministic ranked vocab with exact coverage curve") {
    // corpus: 34 tokens total; 'the' appears 2x in docs 1/2/4 = 6;
    // quick/brown/fox/jumps/over/lazy = 3 each; ties broken by term asc
    val out = TextAnalysisOps.vocabCoverage(df, "text", 3)
      .as[(Int, String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1, "the", 6L, 0.1765),     // 6/34
      (2, "brown", 3L, 0.2647),   // 9/34
      (3, "fox", 3L, 0.3529)))    // 12/34
  }

  test("oovRate: per-doc UNK rate against the corpus' own top-N vocab") {
    // vocab(3) = {the, brown, fox}; docs 1/2/4 have 4 in-vocab tokens
    // of 9 (the x2 + brown + fox); docs 3/5 are fully OOV
    val out = TextAnalysisOps.oovRate(df, "doc_id", "text", 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 9L, 5L, 0.5556), (2L, 9L, 5L, 0.5556),
      (3L, 6L, 6L, 1.0), (4L, 9L, 5L, 0.5556), (5L, 1L, 1L, 1.0)))
  }

  test("shardManifest: totals conserved, deterministic, membership-sensitive fp") {
    val docs = df.withColumn("n_tokens", size(split(col("text"), " ")))
    val m = TextAnalysisOps.shardManifest(docs, "doc_id", "n_tokens", 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // every doc lands in exactly one shard; weights conserved
    assert(m.map(_._2).sum == 5L)
    assert(m.map(_._3).sum == 34L)
    assert(m.forall { case (s, _, _, _) => s >= 0 && s < 4 })
    // replay is identical (no RNG state anywhere)
    val again = TextAnalysisOps.shardManifest(docs, "doc_id", "n_tokens", 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(m == again)
    // dropping a doc changes its shard's row (count + fingerprint)
    val dropped = TextAnalysisOps.shardManifest(
      docs.filter(col("doc_id") =!= 1L), "doc_id", "n_tokens", 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(dropped.map(_._2).sum == 4L)
    assert(dropped != m)
  }

  test("hashedClassifierScore: exact integer logits, empty-text edge") {
    val docs = Seq(
      (1L, "alpha alpha alpha"),   // 3x one token: logit = 3*w(alpha)
      (2L, ""),                     // empty: 0 tokens, null mean
      (3L, "   "),                  // whitespace-only: same as empty
      (4L, "Alpha ALPHA alpha"))    // lowercased: same logit as doc 1
    val out = TextAnalysisOps.hashedClassifierScore(
        docs.toDF("doc_id", "text"))
      .as[(Long, Int, Long, Option[Double], Boolean)].collect()
      .map(t => t._1 -> t).toMap
    val (_, n1, logit1, mean1, keep1) = out(1L)
    assert(n1 == 3 && logit1 % 3 == 0)
    assert(mean1.contains(logit1.toDouble / 3 / 1000.0))
    assert(keep1 == (logit1 > 0))
    assert(out(2L)._2 == 0 && out(2L)._3 == 0L && out(2L)._4.isEmpty
      && !out(2L)._5)
    assert(out(3L)._2 == 0 && out(3L)._3 == 0L)
    // case-folding: identical tokens after lower() → identical logit
    assert(out(4L)._3 == logit1)
  }

  test("gopherRules: each rule trips on its crafted document") {
    val fifty = (1 to 50).map(i => s"word${i % 7} the and").mkString(" ")
    val docs = Seq(
      (1L, fifty),                                    // passes all
      (2L, "too short the and"),                      // rule_wc fails
      (3L, (1 to 60).map(_ => "extraordinarily-long-hyphenated-token")
        .mkString(" ") + " the and"),                 // rule_mwl fails
      (4L, (1 to 60).map(_ => "# ok the and").mkString(" ")), // symbol fails
      (5L, (1 to 60).map(i => s"$i 9 the and").mkString(" ")), // alpha fails
      (6L, (1 to 60).map(_ => "lorem ipsum dolor").mkString(" "))) // stop fails
    val out = TextAnalysisOps.gopherRules(docs.toDF("doc_id", "text"))
      .as[(Long, Int, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(t => t._1 -> t).toMap
    assert(out(1L)._8, "doc 1 should pass all rules")
    assert(!out(2L)._3 && !out(2L)._8)          // wc
    assert(!out(3L)._4 && !out(3L)._8)          // mean word length
    assert(!out(4L)._5 && !out(4L)._8)          // symbol ratio
    assert(!out(5L)._6 && !out(5L)._8)          // alpha fraction
    assert(!out(6L)._7 && !out(6L)._8)          // stopwords
  }

  test("gopherFilter: keeps exactly gopherRules' keep=true rows, columns intact") {
    val docs = Seq(
      (1L, (1 to 60).map(i => s"word$i with the and more").mkString(" "), "a"),
      (2L, "too short the and", "b"),
      (3L, (1 to 60).map(_ => "### ...").mkString(" "), "c"))
      .toDF("doc_id", "text", "tag")
    val kept = TextAnalysisOps.gopherFilter(docs, "doc_id", "text")
    assert(kept.columns.toSeq == Seq("doc_id", "text", "tag"))
    val expected = TextAnalysisOps.gopherRules(docs, "doc_id", "text")
      .filter(col("keep")).select("doc_id")
      .as[Long].collect().toSet
    assert(kept.select("doc_id").as[Long].collect().toSet == expected)
    assert(expected == Set(1L))
  }

  test("bpePairCounts: freq-weighted adjacent pairs, case-folded, 1-char words out") {
    val docs = Seq(
      (1L, "Aba ab, AB!"),   // words: aba×1, ab×2
      (2L, "ab x Y9z"),      // ab×1; "x" 1-char dropped; y/z split by digit
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysisOps.bpePairCounts(docs, "text", topN = 10)
      .as[(String, Long)].collect().toList
    // word freqs: aba=1, ab=3, (x,y,z single-char → no pairs)
    // pairs: aba → ab,ba; ab → ab. totals: ab=4, ba=1
    assert(out == List(("ab", 4L), ("ba", 1L)))
    // topN bounds the result and keeps the (n desc, pair asc) order
    val top1 = TextAnalysisOps.bpePairCounts(docs, "text", topN = 1)
      .as[(String, Long)].collect().toList
    assert(top1 == List(("ab", 4L)))
  }

  test("sourceOverlap: exact pairwise gram Jaccard; disjoint pairs absent") {
    val docs = Seq(
      (1L, "A", "a b c d"),   // grams {a b c, b c d}
      (2L, "B", "b c d e"),   // grams {b c d, c d e}
      (3L, "B", "b c d e"),   // duplicate doc — distinct grams unchanged
      (4L, "C", "x y z")).toDF("doc_id", "source", "text")
    val out = TextAnalysisOps.sourceOverlap(docs, "source", "text", k = 3)
      .as[(String, String, Long, Long, Long, Double)].collect().toList
    assert(out == List(("A", "B", 1L, 2L, 2L, 1.0 / 3)))
  }

  test("sourceOverlap: over-limit gram sharing fails loudly, not S^2 silently") {
    // one gram shared by 3 sources; maxSources=2 must raise in-plan
    // (the documented S^2 bound is enforced, not advisory), and the
    // default bound leaves the result unchanged
    val docs = Seq(
      (1L, "A", "a b c d"), (2L, "B", "a b c e"), (3L, "C", "a b c f"))
      .toDF("doc_id", "source", "text")
    val ok = TextAnalysisOps.sourceOverlap(docs, "source", "text", k = 3)
      .as[(String, String, Long, Long, Long, Double)].collect().toSet
    assert(ok.map(t => (t._1, t._2, t._3)) ==
      Set(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 1L)))
    val e = intercept[Exception] {
      TextAnalysisOps.sourceOverlap(docs, "source", "text", k = 3,
        maxSources = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("maxSources=2")), e.toString)
  }

  test("bpeLearn: merges cascade — later rounds count merged symbols") {
    // wf: aaab=3, ab=2
    // round 1: "a a" = 2x3 = 6 beats "a b" = 3+2 = 5 -> merge "a a"
    //   (leftmost-first: " a a a b " -> " aa a b ", NOT " a aa b ")
    // round 2: "a b" = 3+2 = 5 beats "aa a" = 3 -> merge "a b"
    // round 3: only " aa ab " has pairs left -> merge "aa ab" = 3
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab"))
      .toDF("doc_id", "text")
    val out = TextAnalysisOps.bpeLearn(docs, "text", nMerges = 3)
      .as[(Int, String, Long)].collect().toList.sortBy(_._1)
    assert(out == List((1, "a a", 6L), (2, "a b", 5L), (3, "aa ab", 3L)))
  }

  test("bpeTokenCount: per-doc counts under the learned merges; runs merge fully") {
    // wf: aaab=3, ab=2 → merges "a a", "a b", "aa ab" (cascade above):
    // aaab → [aa,a,b] → [aa,ab] → [aaab] = 1 token; ab → [ab] = 1
    // plus "aaaa" (wf 1, doesn't change the merge choices): [a,a,a,a]
    // → merge1 run-merges BOTH pairs → [aa,aa] = 2 tokens
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab aaaa"), (3L, "!!"))
      .toDF("doc_id", "text")
    val out = TextAnalysisOps.bpeTokenCount(docs, "doc_id", "text", 3)
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) == ((3L, 3L)))       // aaab+aaab+ab → 1+1+1 tokens
    assert(out(2L) == ((4L, 3L)))       // aaab+ab+aaaa → 1+1+2
    assert(!out.contains(3L))           // no extractable word → absent
  }

  test("bpeLearn: driver-local and distributed loops agree merge-for-merge") {
    // maxLocalVocab=0 forces the distributed fallback; the default
    // takes the driver-local path — identical semantics is the hybrid's
    // contract. Corpus chosen with count ties ("a b" vs "b a") so the
    // pair-asc tie-break is exercised on both paths.
    val docs = Seq((1L, "abab baba abba"), (2L, "baab abab cc"),
      (3L, "ccc abc cab")).toDF("doc_id", "text")
    val local = TextAnalysisOps.bpeLearn(docs, "text", nMerges = 5)
      .as[(Int, String, Long)].collect().toList.sortBy(_._1)
    val dist = TextAnalysisOps
      .bpeLearn(docs, "text", nMerges = 5, maxLocalVocab = 0L)
      .as[(Int, String, Long)].collect().toList.sortBy(_._1)
    assert(local == dist)
    assert(local.size == 5)
    val tcLocal = TextAnalysisOps.bpeTokenCount(docs, "doc_id", "text", 5)
      .as[(Long, Long, Long)].collect().toSet
    val tcDist = TextAnalysisOps
      .bpeTokenCount(docs, "doc_id", "text", 5, maxLocalVocab = 0L)
      .as[(Long, Long, Long)].collect().toSet
    assert(tcLocal == tcDist)
  }

  test("bpeLearn: merge-space exhaustion stops early on both paths") {
    // wf: aaab, ab → exactly 3 merges exist ("a a", "a b", "aa ab");
    // asking for 10 must return 3 rows, not throw (the empty-top edge)
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab"))
      .toDF("doc_id", "text")
    for (maxLocal <- Seq(TextAnalysisOps.bpeMaxLocalVocab, 0L)) {
      val out = TextAnalysisOps
        .bpeLearn(docs, "text", nMerges = 10, maxLocalVocab = maxLocal)
        .as[(Int, String, Long)].collect().toList.sortBy(_._1)
      assert(out == List((1, "a a", 6L), (2, "a b", 5L), (3, "aa ab", 3L)),
        s"maxLocalVocab=$maxLocal")
      // tokenization under an exhausted merge budget: every word is one
      // symbol
      val tc = TextAnalysisOps
        .bpeTokenCount(docs, "doc_id", "text", 10, maxLocalVocab = maxLocal)
        .as[(Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      assert(tc(1L) == ((3L, 3L)) && tc(2L) == ((2L, 2L)),
        s"maxLocalVocab=$maxLocal")
    }
  }

  test("bpeTokenizer: release handle frees the fallback's cached vocab") {
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab"))
      .toDF("doc_id", "text")
    // start from a clean slate: earlier tests' GC-pending blocks would
    // otherwise make the count assertions racy
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    def cachedRdds(): Int =
      spark.sparkContext.getPersistentRDDs.size
    val before = cachedRdds()
    val (counts, release) = TextAnalysisOps
      .bpeTokenizer(docs, "doc_id", "text", 3, maxLocalVocab = 0L)
    assert(counts.count() == 2L)
    assert(cachedRdds() > before) // the checkpointed tokenizer model
    release()
    assert(cachedRdds() == before)
    // the local path caches nothing and its release is a no-op
    val (counts2, release2) = TextAnalysisOps
      .bpeTokenizer(docs, "doc_id", "text", 3)
    assert(counts2.count() == 2L)
    assert(cachedRdds() == before)
    release2()
  }

  test("polygonStats: hand square both windings, bbox shift, degenerate in-band") {
    import spark.implicits._
    val sq = Seq((0L, 0L), (10L, 0L), (10L, 10L), (0L, 10L))
    val rows = Seq(
      (1L, sq),                        // ccw square: 2A=200, c=(5,5)
      (2L, sq.reverse),                // cw: same area/centroid, ccw=false
      (3L, sq.map { case (x, y) => (x + 1000000L, y + 1000000L) }),
      (4L, Seq((5L, 5L), (6L, 6L))),   // segment: area 0, ccw null
      (5L, Seq((1L, 1L), (2L, 2L), (3L, 3L)))) // collinear: signed 0
      .toDF("id", "ring")
      .select(col("id"), transform(col("ring"),
        v => struct(v.getField("_1").as("x"), v.getField("_2").as("y")))
        .as("poly"))
    val got = SpatialOps.polygonStats(rows, "poly")
      .select("id", "n_verts", "area2", "ccw", "cx", "cy")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getBoolean(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    assert(got(1L) == ((4, 200L, Some(true), Some(5.0), Some(5.0))))
    assert(got(2L) == ((4, 200L, Some(false), Some(5.0), Some(5.0))))
    // far-translated square: bbox shift keeps the cubic sums exact
    assert(got(3L) == ((4, 200L, Some(true),
      Some(1000005.0), Some(1000005.0))))
    assert(got(4L) == ((2, 0L, None, None, None)))
    assert(got(5L) == ((3, 0L, None, None, None)))
  }

  test("rayCastInside resolves degenerate rings in-band: null/empty/point/segment are false, never an error") {
    import spark.implicits._
    // unguarded, sequence(0, n-1) at n = 0 is [0, -1] and the i = -1
    // step throws on element_at(poly, 0) — one malformed ring must
    // not fail the job
    val rows = Seq(
      (0L, Seq.empty[(Long, Long)]), // replaced with NULL below
      (1L, Seq.empty[(Long, Long)]),
      (2L, Seq((5L, 5L))),
      (3L, Seq((0L, 0L), (10L, 10L))),
      (4L, Seq((0L, 0L), (10L, 0L), (0L, 10L))))
      .toDF("id", "ring")
      .select(col("id"), transform(col("ring"),
        v => struct(v.getField("_1").as("x"), v.getField("_2").as("y")))
        .as("poly"))
    val polyType = rows.schema("poly").dataType
    val got = rows.select(col("id"), SpatialOps.rayCastInside(
        when(col("id") === 0, lit(null).cast(polyType))
          .otherwise(col("poly")), lit(2L), lit(2L)).as("in"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(0L -> false, 1L -> false, 2L -> false,
      3L -> false, 4L -> true), got.toString)
  }
}

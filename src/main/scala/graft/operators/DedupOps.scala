package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Ckpt.CkptOps

/** Deduplication operators for large-scale corpus pipelines: exact,
  * MinHash+LSH, SimHash, and blocked n-gram Jaccard.
  *
  * Design for 100 TB:
  *  - everything per-document (shingles, signatures, band hashes) is a
  *    row-local codegen'd projection — no UDFs, no state;
  *  - candidate generation NEVER compares all pairs: LSH band hashing
  *    reduces the self-join to equality on band keys (one shuffle on the
  *    band hash, bucket sizes bounded by collision rate); blocked Jaccard
  *    joins only within caller-chosen blocks;
  *  - hashes are `md5` strings so an external SQL engine can replay the
  *    exact pipeline — the minhash of permutation `i` is
  *    `min(md5(i || ':' || shingle))`, a string-min, which is
  *    order-independent and engine-portable (no murmur seed drift).
  */
object DedupOps {

  /** Exact dedup: one representative (min of `idCol`) per distinct value
    * of `keyCols`. Map-side partial agg + one shuffle on the key hash.
    *
    * Unicode composition (tx48): raw-byte keys split NFC/NFD twins,
    * full-width forms, and homoglyph spoofs — pass
    * `md5(unicode_norm_key(text))` ([[graft.functions.UnicodeNorm]])
    * as the key instead of `md5(text)` to dedup on the canonical form;
    * the same composition applies to shingle grams before MinHash.
    */
  def dedupExact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol))

  /** Distinct word array of a text column (the unit shingle). */
  def words(text: Column): Column =
    array_distinct(split(text, " "))

  /** Distinct word k-shingles ("a b c" 3-grams) as strings. Row-local:
    * built with `transform` over index offsets, no explode. The
    * operators use the native `functions.ShingleGen` forms; this
    * declarative one is the reference the specs compare them against
    * (ExtOpsSpec's shingle-generator parity tests).
    */
  def shingles(text: Column, k: Int): Column = {
    val w = split(text, " ")
    val n = size(w)
    array_distinct(
      when(n >= k,
        transform(sequence(lit(1), n - k + 1),
          i => array_join(slice(w, i, lit(k)), " ")))
        .otherwise(array().cast("array<string>")))
  }

  /** Modulus and per-permutation affine constants for the arithmetic
    * minhash permutations (classic universal-hash family
    * h_i(x) = (a_i x + b_i) mod p, p = 2^31 - 1). a_i x stays < 2^56 for
    * the 31-bit reduced x, so no 64-bit overflow in any engine.
    */
  val MinhashP: Long = 2147483647L
  def minhashA(i: Int): Long = i.toLong * 1000003L + 12345L
  def minhashB(i: Int): Long = i.toLong * 999983L + 54321L

  /** One base hash per shingle: the top 60 bits of its md5 as a long,
    * reduced mod p. (`conv` hex → decimal is replayable in any SQL
    * engine via a hex cast.)
    */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, t =>
      conv(substring(md5(t), 1, 15), 16, 10).cast("long") % MinhashP)

  /** MinHash signature over `numPerm` arithmetic permutations of the
    * base hashes: sig[i] = min over shingles of (a_i x + b_i) mod p.
    * ONE md5 per shingle total — the permutations are integer math
    * (16× fewer digest calls than hashing per permutation; measured
    * 2× end-to-end on the LSH pipeline, PERF.md).
    */
  def minhashSignature(hashCol: Column, numPerm: Int): Column =
    array((0 until numPerm).map { i =>
      array_min(transform(hashCol,
        x => (lit(minhashA(i)) * x + lit(minhashB(i))) % MinhashP))
    }: _*)

  /** LSH band hashes: split the signature into `bands` bands of
    * `rowsPerBand` and hash each band. Docs sharing ANY band hash are
    * candidate duplicates.
    */
  def lshBandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      md5(array_join(transform(
        slice(sig, b * rowsPerBand + 1, rowsPerBand),
        x => x.cast("string")), "|"))
    }: _*)

  /** MinHash-LSH candidate pairs over `textCol`, identified by `idCol`
    * (ascending pair order, deduplicated across bands).
    *
    * Plan shape: row-local signature projection → explode to
    * (band, bandHash) → equi-self-join on the band hash → distinct.
    * The only shuffles are the join on bandHash and the final distinct —
    * both keyed, both AQE-skew-splittable; no O(n²) stage exists.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 1, numPerm: Int = 16,
                        bands: Int = 4): DataFrame = {
    // Text → shingles → signature → band hashes → (band, hash) rows is
    // ONE custom whole-pipeline Generator
    // (functions.MinhashTextBandsGenerate): a single JVM pass per doc,
    // one digest per shingle computed over byte ranges of the original
    // text, zero intermediate arrays — bit-identical to the staged
    // shingleHashes→minhashSignature→lshBandHashes HOF pipeline
    // (asserted by spec). The declarative formulations all lose big
    // here: HOF lambdas evaluate interpreted (~10× codegen cost), and a
    // posexplode-shaped plan additionally triggers
    // InferFiltersFromGenerate + pushdown, re-evaluating the pipeline
    // 2× more inside an interpreted Filter. Texts with fewer than k
    // words emit no rows (the non-outer explode semantics).
    val banded = bandRows(df, idCol, textCol, shingleK, numPerm, bands)
    // Self-join with the rename AFTER the join, hinted to sort-merge:
    // both sides are then the IDENTICAL plan exchanged on the same key,
    // so ReuseExchange computes the signature pipeline once and reads
    // the shuffle twice. A broadcast build here would recompute the
    // whole md5 pipeline for the build side — worse at every scale for
    // a self-join. Sort-merge over shuffled-hash is a measured,
    // deliberate choice (graft.JoinAB, 5M docs / 119.8M pairs,
    // local[32]): SHJ wins with headroom (75 s vs 98 s at 48 g heap)
    // but its per-partition build map CANNOT SPILL and OOMs outright at
    // an 8 g heap (256 MB/slot) — a duplicate-heavy band bucket kills
    // the stage. SMJ spills and completes at both heaps (35 s at 8 g).
    // At 100 TB a skewed band bucket is a certainty, so the spill-safe
    // shape ships. (If the optimizer cannot prove exchange reuse,
    // persist/checkpoint the banded projection instead.)
    val l = banded.hint("merge").as("l")
    val r = banded.hint("merge").as("r")
    l.join(r, col("l._band") === col("r._band") &&
        col("l._bh") === col("r._bh") && col("l._id") < col("r._id"))
      .select(col("l._id").as("a"), col("r._id").as("b"))
      .distinct()
  }

  /** The banded (id, band, bandHash) projection every LSH consumer
    * shares.
    */
  private def bandRows(df: DataFrame, idCol: String, textCol: String,
                       shingleK: Int, numPerm: Int, bands: Int): DataFrame =
    df.select(col(idCol).as("_id"),
        graft.functions.MinhashSig.minhashTextBandsGen(col(textCol),
          shingleK, numPerm, bands))
      .toDF("_id", "_band", "_bh")

  /** Persist the corpus' LSH band index for INCREMENTAL near-dup
    * detection: the expensive part of every ingest — re-shingling and
    * re-hashing the EXISTING corpus — is paid once and written down
    * (hive-partitioned by band, files clustered by band hash so parquet
    * min/max stats prune hash ranges). New batches append theirs via
    * [[bandIndexAppend]]; periodic `Compaction.compact` keeps file
    * counts bounded.
    */
  def bandIndexBuild(corpus: DataFrame, dir: String, idCol: String,
                     textCol: String, shingleK: Int = 1, numPerm: Int = 16,
                     bands: Int = 4): Unit =
    graft.sources.Compaction.writePartitioned(
      bandRows(corpus, idCol, textCol, shingleK, numPerm, bands),
      dir, Seq("_band"), clusterBy = Seq("_bh"))

  /** Append a new batch's band rows to an existing index, preserving
    * the build's layout invariant (rows shaped exactly like
    * `Compaction.writePartitioned`: repartitioned on the partition key,
    * files clustered by band hash) — an unshaped append would write
    * tasks × bands sliver files with useless min/max stats until the
    * next compaction.
    */
  def bandIndexAppend(batch: DataFrame, dir: String, idCol: String,
                      textCol: String, shingleK: Int = 1, numPerm: Int = 16,
                      bands: Int = 4,
                      maxRecordsPerFile: Long = 1000000L): Unit =
    bandRows(batch, idCol, textCol, shingleK, numPerm, bands)
      .repartition(col("_band"))
      .sortWithinPartitions(col("_band"), col("_bh"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("_band").parquet(dir)

  /** Near-dup candidates of a NEW batch against the persisted index:
    * (new_id, corpus_id) pairs sharing ≥1 band. Only the batch is
    * banded (the index already is), and the INDEX side is bloom-reduced
    * by the batch's key set before the join — the big side's scan rows
    * drop to ~matching + fpp, the usual inversion when the new batch is
    * tiny next to the corpus.
    */
  def dedupIncremental(batch: DataFrame, dir: String, idCol: String,
                       textCol: String, shingleK: Int = 1, numPerm: Int = 16,
                       bands: Int = 4,
                       immutable: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    val newBanded = bandRows(batch, idCol, textCol, shingleK, numPerm,
      bands)
    val key = concat_ws("\u0000", col("_band"), col("_bh"))
    // sized from the raw batch count × bands (an upper bound on band
    // rows) — no persist: a cached plan here would leak a CacheManager
    // entry per ingest in the steady-state loop, and the batch side is
    // small by premise, so evaluating the banding twice (bloom build +
    // join) is the cheaper trade
    val bloom = BloomJoin.buildBloom(newBanded, key,
      math.max(batch.count() * bands, 1L))
    // immutable = true: the banked index is a marker-gated fixture
    // never rewritten in-process — route through the resolved-relation
    // memo; ingest loops that re-bank between probes keep direct reads
    val index = (if (immutable) graft.Tables.immutablePath(spark, dir)
                 else spark.read.parquet(dir))
      .filter(BloomJoin.mightContain(bloom, key))
      .select(col("_id").as("_old"), col("_band"), col("_bh"))
    newBanded.join(index, Seq("_band", "_bh"))
      .filter(col("_id") =!= col("_old"))
      .select(col("_id").as("a"), col("_old").as("b"))
      .distinct()
  }

  /** 16-bit SimHash from the high bit of each md5 hex digit: bit d is the
    * sign of `sum over tokens of (+1 if md5(token)[d] >= '8' else -1)`.
    * Emitted as a 16-char '0'/'1' string. One shuffle (groupBy id).
    */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      graft.functions.ShingleGen.shingleGen(col(textCol), 1,
        distinct = true)).toDF(idCol, "_t")
      .withColumn("_h", md5(col("_t")))
    val sums = (1 to 16).map { d =>
      sum(when(substring(col("_h"), d, 1).between("8", "f"), 1)
        .otherwise(-1)).as(s"_b$d")
    }
    tok.groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        concat((1 to 16).map(d =>
          when(col(s"_b$d") > 0, lit("1")).otherwise(lit("0"))): _*)
          .as("simhash"))
  }

  /** SimHash near-dup pairs: block on the first `prefixBits` of the
    * 16-bit simhash (candidates must agree there — the single-table
    * simplification of multi-index Hamming LSH), then keep pairs
    * within `maxHamming` bit flips. The Hamming distance is a codegen'd
    * 16-term positional comparison, no UDF.
    *
    * The production-grade variant is [[simhashHammingPairs]]: a 60-bit
    * signature with a multi-band union whose recall at
    * `maxHamming <= bands - 1` is guaranteed by pigeonhole (the
    * single-prefix table measured 24% fewer pairs on the same corpus —
    * PERF.md, round 6). This one stays as the cheap low-recall screen.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, prefixBits: Int = 8): DataFrame = {
    val sh = simhash16(df, idCol, textCol)
      .withColumn("_blk", substring(col("simhash"), 1, prefixBits))
    val l = sh.select(col("_blk"), col(idCol).as("a"), col("simhash").as("sa"))
    val r = sh.select(col("_blk"), col(idCol).as("b"), col("simhash").as("sb"))
    val hamming = (1 to 16).map { i =>
      when(substring(col("sa"), i, 1) =!= substring(col("sb"), i, 1), 1)
        .otherwise(0)
    }.reduce(_ + _)
    l.join(r, Seq("_blk"))
      .filter(col("a") < col("b"))
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  /** 60-bit SimHash over k-gram shingle features, packed into one
    * BIGINT (positions 0..59 = bits 0..59, always non-negative). The
    * Manku et al. 2007 web-dedup formulation: feature set = the
    * document's distinct word k-shingles (unigram features
    * under-discriminate a narrow vocabulary — measured 512 k vs 5.5 k
    * pairs on the sf0.1 corpus), feature hash = md5, per-bit sign = the
    * corresponding md5 nibble bit. 60 bits (15 hex chars × 4) rather
    * than 64 keeps the packed value positive in engines whose BIGINT
    * overflow throws rather than wraps.
    *
    * Scale shape (round 7): ZERO exchanges — a document's shingle set
    * is row-local, so the whole signature is one fused native
    * expression pass where the text already sits
    * ([[graft.functions.SimhashSigExpr]]; the earlier declarative form
    * exploded shingles and shipped 60 per-bit partial sums per doc
    * through a doc-keyed aggregation). Everything still replays
    * exactly in external SQL (md5 + integer bit ops only) — the
    * oracles are unchanged, and the MessageDigest model sweeps pin
    * bit-identity implementation-independently.
    */
  def simhash60(df: DataFrame, idCol: String, textCol: String,
                k: Int = 3): DataFrame =
    simhashW(df, idCol, textCol, k, bits = 60, bands = 4)
      .select(col(idCol),
        (0 until 4).map(b =>
          shiftleft(element_at(col("simhash"), b + 1), b * 15))
          .reduce(_ + _).as("simhash"))

  /** SimHash near-dup pairs with GUARANTEED recall: split the 60-bit
    * [[simhash60]] into `bands` equal bit ranges and join on (band,
    * band value) — by pigeonhole, any pair within Hamming distance
    * `bands - 1` agrees on at least one full band, so with the default
    * 4 bands every pair at `maxHamming <= 3` is found (the multi-table
    * Hamming LSH of Manku et al. 2007, vs [[simhashPairs]]'s
    * single-prefix approximation). The Hamming distance itself is
    * `bit_count(sa ^ sb)` — two integer ops, codegen'd.
    *
    * Scale shape: the exchange carries (band, 15-bit value, id, 8-byte
    * signature) — never text; band-value keys have up to 2^(60/bands)
    * distinct values (32 k at 4 bands), so posting lists stay bounded
    * by the corpus' true near-dup density, not by a tiny key space.
    * Both join sides derive from one signature scan (reused exchange).
    * At 100 TB the same shape holds with a wider signature and
    * proportionally wider bands — [[simhashHammingPairsW]] is that
    * configuration (any width up to the full 128-bit digest).
    */
  def simhashHammingPairs(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 3, maxHamming: Int = 3,
                          bands: Int = 4): DataFrame =
    // the 60-bit geometry of [[simhashHammingPairsW]] (one
    // implementation of the banded self-join; the ExtOpsSpec equality
    // test pinned the two forms pair-for-pair before the merge)
    simhashHammingPairsW(df, idCol, textCol, k, maxHamming, bands,
      bits = 60)

  /** Width-parameterized SimHash — [[simhash60]]'s md5-nibble
    * construction generalized to any `bits <= 128` (the full md5
    * digest), realizing the "wider signature, proportionally wider
    * bands" scale path the 60-bit operator documents. The signature
    * comes back as `array<bigint>` of `bands` equal-width band values
    * (band b holds bits [b·w, (b+1)·w), bit j of a band at weight 2^j)
    * — the representation the band join and the per-band XOR popcount
    * both want, with every element non-negative (w <= 60) for engines
    * whose BIGINT overflow throws. Bit p's sign comes from md5 nibble
    * p/4 bit p%4, exactly as [[simhash60]] — at bits=60 the
    * concatenated band values ARE the 60-bit signature (asserted in
    * ExtOpsSpec).
    */
  def simhashW(df: DataFrame, idCol: String, textCol: String,
               k: Int = 3, bits: Int = 60, bands: Int = 4): DataFrame =
    // one fused native pass per row, no exchange (see [[simhash60]]'s
    // scale note); docs with < k words come back null and are dropped,
    // reproducing the non-outer shingle-explode absence semantics
    df.select(col(idCol),
        graft.functions.SimhashSig.simhashSigNative(col(textCol), k,
          bits, bands).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** [[simhashHammingPairs]] at an arbitrary signature width — the
    * 100-TB configuration the 60-bit operator's scaladoc promises: a
    * wider signature raises precision (random pairs spread out in
    * Hamming space) while the pigeonhole guarantee is unchanged (any
    * pair at Hamming <= bands-1 still agrees on a full band). Same
    * plan shape: one signature scan, merge-hinted self-join on (band,
    * band value) reusing ONE exchange, emit-once lowest-band predicate
    * instead of a candidate-dedup exchange; the Hamming distance is a
    * per-band XOR popcount summed as a STATICALLY UNROLLED expression
    * (`bands` is a plan-time constant — a `zip_with`+`aggregate` fold
    * would put an interpreted higher-order lambda on every candidate
    * pair, the hottest row stream in the plan). The exchange carries
    * (band, band value, id, bits/8-byte signature array) — never text.
    */
  def simhashHammingPairsW(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, maxHamming: Int = 3,
                           bands: Int = 4, bits: Int = 60): DataFrame = {
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming < bands ($maxHamming >= $bands)")
    val banded = simhashW(df, idCol, textCol, k, bits, bands)
      .select(col(idCol), col("simhash"), posexplode(col("simhash")))
      .toDF(idCol, "simhash", "_band", "_bv")
    // the minhashCandidates self-join recipe: rename AFTER the join +
    // sort-merge hint, so both sides are the identical plan exchanged
    // on the same key and ReuseExchange computes the signature
    // pipeline once. Left unhinted, the optimizer broadcasts one side
    // and RE-EXECUTES the signature pipeline as the build — measured
    // 2.9 s vs 2.4 s on the sf0.1 lane; at production split counts the
    // avoided recompute is the entire pipeline. The emit-once
    // lowest-colliding-band predicate below replaces the candidate
    // distinct() — the dedup exchange disappears from the plan.
    val l = banded.hint("merge").as("l")
    val r = banded.hint("merge").as("r")
    val earlierCollision = (0 until bands).map { b =>
      (lit(b) < col("l._band")) &&
        (element_at(col("l.simhash"), b + 1) ===
         element_at(col("r.simhash"), b + 1))
    }.reduce(_ || _)
    val hamming = (0 until bands).map { b =>
      bit_count(element_at(col("l.simhash"), b + 1)
        .bitwiseXOR(element_at(col("r.simhash"), b + 1)))
    }.reduce(_ + _).cast("int")
    l.join(r, col("l._band") === col("r._band") &&
        col("l._bv") === col("r._bv") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .filter(!earlierCollision)
      .select(col(s"l.$idCol").as("a"), col(s"r.$idCol").as("b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Duplicate-cluster resolution: candidate pairs → connected
    * components → (member, cluster_rep = min member id). The step after
    * LSH in every dedup pipeline: near-dup PAIRS must become GROUPS
    * before one representative per group can be kept.
    *
    * The load-bearing decision (measured, PERF.md): MATERIALIZE the
    * candidate-pair lineage once (`localCheckpoint`) before the
    * iterative algorithm. GraphX's Pregel walks its input RDD several
    * times; fed directly by the (expensive) LSH candidate pipeline it
    * re-executes that pipeline per pass — that, not Pregel itself, was
    * the observed cost. On materialized edges GraphX wins 3–6× at
    * 1k → 1M edges vs the DataFrame rounds of [[clustersDataFrame]],
    * so: checkpoint, then GraphX. At ~10⁸ edges the ranking inverts
    * (same-box A/B, PERF.md) — prefer [[clustersDataFrame]] for the
    * largest graphs or whenever memory is the binding constraint.
    */
  def clusters(pairs: DataFrame, aCol: String = "a",
               bCol: String = "b"): DataFrame =
    clustersReleasable(pairs, aCol, bCol)._1

  /** [[clusters]] plus a release handle for the materialized edge
    * checkpoint. The returned plan reads the checkpoint LAZILY (GraphX's
    * persisted CC vertices recompute through it on eviction, and a
    * released localCheckpoint cannot recompute), so the edges cannot be
    * freed inline — the caller invokes the handle after consuming the
    * result, the `semanticDedupReleasable` contract. The plain
    * [[clusters]]/[[clustersAuto]] forms retain the checkpoint for the
    * session (ContextCleaner GC at best) — fine for one-shot jobs,
    * wrong inside a lane loop.
    */
  def clustersReleasable(pairs: DataFrame, aCol: String = "a",
                         bCol: String = "b"): (DataFrame, () => Unit) = {
    // staging goes through Ckpt, not bare localCheckpoint, so reliable
    // mode (spark.graft.checkpoint.dir) covers the seeding pass of a
    // long run too (advisor r17). The GraphX path's INTERNAL Pregel
    // caching remains executor-local regardless — reliable mode narrows
    // the executor-loss window to GraphX's own rounds, it cannot close
    // it; clustersDataFrame checkpoints every round and is the fully
    // covered variant.
    val e = graft.Ckpt(pairs.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b")))
    val (out, relInner) = clustersGraphxReleasable(e)
    (out, () => { relInner(); graft.Release(e) })
  }

  /** Measured GraphX ↔ DataFrame-CC crossover (same-box A/B, PERF.md):
    * GraphX-on-materialized-edges wins 3–6× up to ~10⁷ edges; at
    * ~1.2×10⁸ the serialized-spillable DataFrame rounds beat even
    * well-fed GraphX outright (202 s at 8 g vs 262 s at 48 g) and are
    * the only variant that survives the memory boundary. The auto
    * threshold sits below the measured inversion so the selector errs
    * toward the spill-safe side.
    */
  val ClustersGraphxMaxEdges: Long = 50000000L

  /** Auto-selected connected components — the `geocodeAuto` pattern
    * applied to the CC crossover: materialize the candidate edges once
    * (both algorithms want that anyway — GraphX re-walks its input,
    * the DF rounds re-derive it), count them on the materialized
    * blocks (cheap — no recompute), and pick [[clustersGraphx]] below
    * [[ClustersGraphxMaxEdges]] or the spill-safe
    * [[clustersDataFrame]] at and beyond it. Both variants are
    * asserted equal in ExtOpsSpec, so the switch is invisible in
    * output; what changes is surviving the regime where GraphX's
    * deserialized caching evicts itself to death.
    */
  def clustersAuto(pairs: DataFrame, aCol: String = "a",
                   bCol: String = "b",
                   maxGraphxEdges: Long = ClustersGraphxMaxEdges)
      : DataFrame =
    clustersAutoReleasable(pairs, aCol, bCol, maxGraphxEdges)._1

  /** [[clustersAuto]] plus a release handle for the edge checkpoint —
    * see [[clustersReleasable]] for why the release must be deferred to
    * the caller rather than performed inline.
    */
  def clustersAutoReleasable(pairs: DataFrame, aCol: String = "a",
                             bCol: String = "b",
                             maxGraphxEdges: Long = ClustersGraphxMaxEdges)
      : (DataFrame, () => Unit) = {
    // Ckpt, not bare localCheckpoint: reliable mode must cover the
    // staging/count pass too (advisor r17; GraphX-internal exposure
    // documented on clustersReleasable). Checkpoint + selector count
    // fold to ONE job (Ckpt.counted, r19).
    val (e, eN) = graft.Ckpt.counted(
      pairs.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b")))
    val (out, relInner) =
      if (eN <= maxGraphxEdges) clustersGraphxReleasable(e)
      else clustersDataFrameReleasable(e)
    (out, () => { relInner(); graft.Release(e) })
  }

  /** Pure-DataFrame connected components: alternating large-star /
    * small-star (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014) — each round two keyed groupBy-min + join stages,
    * O(log² n) rounds, lineage truncated per round. Kept as the
    * catalog-only alternative (no RDD/GraphX dependency) and as the
    * cross-check implementation; the spec asserts it matches
    * [[clustersGraphx]] exactly. Loses to GraphX-on-materialized-edges
    * at small-to-medium sizes (3–6× at 1 k–1 M edges: per-round cost is
    * ~8 exchanges of the full edge set plus an exact set-equality
    * convergence check) — but it is the LARGE-GRAPH / MEMORY-BOUNDARY
    * choice: per-round state is one serialized-spillable checkpoint of
    * the current edge set (MEMORY_AND_DISK_SER, superseded rounds
    * unpersisted), so it completes on graphs whose cached edge
    * partitions exceed the executor heap that OOMs GraphX CC, and at
    * 10⁸ edges it beats even WELL-FED GraphX outright (same-box A/B on
    * 119.8 M edges: 202 s here at 8 g vs GraphX 262 s at 48 g — the
    * volume term dominates and codegen exchanges beat Pregel's RDD
    * shuffles; PERF.md). At the tight heap run with reduced
    * cores-per-executor and smaller `spark.buffer.pageSize` so
    * aggregation state spills instead of dying.
    */
  def clustersDataFrame(pairs: DataFrame, aCol: String = "a",
                        bCol: String = "b"): DataFrame =
    clustersDataFrameReleasable(pairs, aCol, bCol)._1

  /** [[clustersDataFrame]] plus the release handle for the FINAL
    * star-forest checkpoint the returned frame reads lazily (the
    * internal rounds already release superseded generations; without
    * this handle the fixed point lingers until ContextCleaner GC —
    * the leak class the r17 storage-flat pin caught on the SCC
    * weak-component seeding). */
  def clustersDataFrameReleasable(pairs: DataFrame, aCol: String = "a",
                        bCol: String = "b"): (DataFrame, () => Unit) = {
    val ckptLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    // Canonical directed edges hi→lo (hi > lo), self-loops dropped.
    // checkpoint + convergence count fold to ONE job per round
    // (Ckpt.counted, r19): the count-equality convergence test reuses
    // the materializing count instead of scheduling its own job, and
    // the superseded round's count is carried, never re-asked.
    var (e, eN) = pairs.select(
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("hi"),
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .iterCkptCounted(ckptLevel)
    var converged = eN == 0
    while (!converged) {
      // large-star: for every node u, connect each LARGER neighbor v to
      // the minimum m of u's full neighborhood (m <= u < v).
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
      val minNbr = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.join(minNbr, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      // small-star: on hi→lo edges, reattach hi and all its smaller
      // neighbors to the minimum lo.
      val minLo = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val (next, nextN) = large.join(minLo, "hi")
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionAll(minLo.select(col("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo")).distinct()
        .iterCkptCounted(ckptLevel)
      // Both sides are distinct sets, so |next| == |e| plus next ⊆ e
      // implies equality; the cheap count-equality test short-circuits
      // the except in the early rounds where the edge set is still
      // shrinking.
      converged = nextN == eN && next.except(e).isEmpty
      // `next` is fully materialized; drop the superseded round's blocks
      // so live checkpoint state stays O(1) edge sets, not O(rounds).
      // Release, not Dataset.unpersist: the latter no-ops on a
      // checkpointed frame (CacheManager never saw the RDD persist).
      graft.Release(e)
      e = next
      eN = nextN
    }
    // Fixed point is a star forest hi→componentMin; add the roots.
    val fixed = e
    (fixed.select(col("hi").as("member"), col("lo").as("cluster_rep"))
      .unionAll(fixed.select(col("lo"), col("lo")).distinct()),
      () => graft.Release(fixed))
  }

  /** GraphX twin of [[clusters]] (RDD Pregel `connectedComponents`).
    * Kept as the cross-check implementation: same output contract,
    * higher fixed per-iteration cost (RDD shuffles outside codegen).
    *
    * Storage levels are pinned to MEMORY_AND_DISK — GraphX's default is
    * MEMORY_ONLY, under which a heap too small for the cached
    * edge/vertex partitions EVICTS them and Pregel's next iteration
    * silently recomputes the lineage, turning memory pressure into a
    * recompute storm instead of a disk spill (observed in the tight-heap
    * ScaleSmoke run; same hazard family as the unspillable
    * shuffled-hash build, PERF.md).
    */
  def clustersGraphx(pairs: DataFrame, aCol: String = "a",
                     bCol: String = "b"): DataFrame =
    clustersGraphxReleasable(pairs, aCol, bCol)._1

  /** [[clustersGraphx]] plus the release handle for the CACHED GraphX
    * graphs (base + CC result). GraphX persists vertices and edges and
    * never unpersists them itself, so without the handle every call
    * parks RDDs until ContextCleaner GC — nondeterministic under a
    * lane loop (the r17 storage-flat flake). Same contract as every
    * Releasable here: invoke only after consuming the result. */
  def clustersGraphxReleasable(pairs: DataFrame, aCol: String = "a",
                     bCol: String = "b"): (DataFrame, () => Unit) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .as[(Long, Long)].rdd
      .map { case (a, b) => org.apache.spark.graphx.Edge(a, b, ()) }
    val g = org.apache.spark.graphx.Graph.fromEdges(edges, (),
        edgeStorageLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cc = g.connectedComponents() // component id = min vertex id
    (cc.vertices.toDF("member", "cluster_rep"),
      () => { cc.unpersist(blocking = false); g.unpersist(blocking = false) })
  }

  /** Leakage-free train/val/test split: the split key is the near-dup
    * CLUSTER representative, not the document id — every member of a
    * connected near-duplicate cluster lands in the same split, so a
    * held-out set can never be contaminated by a near-copy of a training
    * document (hash-splitting on raw doc ids gives exactly that leak).
    * Composition: [[minhashCandidates]] → [[clusters]] for the
    * representative; docs in no candidate pair are their own
    * representative (left join + coalesce). Assignment is the md5-bucket
    * idiom of `TextAnalysisOps.stratifiedHashSample` on the REP id — a
    * pure function of the data, reproducible across engines, retries and
    * cluster topologies, and trivially cluster-coherent (same rep ⇒ same
    * bucket by construction, no cross-member coordination needed).
    *
    * Scale: the members table holds only docs that appeared in a
    * candidate pair (≪ corpus at realistic dup rates), so the rep join
    * is an equi-join on the doc key against a much smaller right side —
    * broadcast when small, shuffled keyed join otherwise (left to AQE);
    * the bucket/split projection is map-side.
    */
  def leakageFreeSplit(docs: DataFrame, idCol: String, textCol: String,
                       trainPct: Int = 80, valPct: Int = 10,
                       shingleK: Int = 3, numPerm: Int = 16,
                       bands: Int = 4): DataFrame =
    leakageFreeSplitReleasable(docs, idCol, textCol, trainPct, valPct,
      shingleK, numPerm, bands)._1

  /** [[leakageFreeSplit]] plus the release handle for the cluster
    * checkpoint the split plan reads lazily ([[clustersReleasable]]
    * contract — invoke after consuming the result). */
  def leakageFreeSplitReleasable(docs: DataFrame, idCol: String,
                                 textCol: String,
                                 trainPct: Int = 80, valPct: Int = 10,
                                 shingleK: Int = 3, numPerm: Int = 16,
                                 bands: Int = 4)
      : (DataFrame, () => Unit) = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val (rawMembers, release) = clustersReleasable(
      minhashCandidates(docs, idCol, textCol, shingleK, numPerm, bands))
    val members = rawMembers.withColumnRenamed("member", idCol)
    val withRep = docs.select(col(idCol))
      .join(members, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_rep"), col(idCol)).as("rep"))
    val bucket = conv(substring(md5(col("rep").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    val out = withRep.withColumn("split",
      when(bucket < trainPct, lit("train"))
        .when(bucket < trainPct + valPct, lit("val"))
        .otherwise(lit("test")))
    (out, release)
  }

  /** Quality-aware duplicate-cluster resolution — the KEEP-POLICY half
    * of the near-dup pipeline. [[leakageFreeSplit]]/dd9 keep the
    * min-id member per cluster; real curation pipelines keep the BEST
    * member (C4 and MassiveText keep the longest copy; RefinedWeb keeps
    * the highest-quality one), because near-duplicates differ exactly
    * where one copy is truncated, boilerplate-padded, or OCR-mangled.
    * Representative = argmax over cluster members by
    * (`quality` desc, id asc) — a TOTAL order, so selection is
    * deterministic across retries and partitionings.
    *
    * Scale shape: candidates → connected components as in [[clusters]];
    * the rep join is doc-keyed against the (≪ corpus) member table; the
    * argmax is `max_by` over a struct — a declarative aggregate with a
    * map-side partial, so the per-cluster reduction never sorts and the
    * exchange carries (rep, id, quality) scalars, not text. A window
    * `row_number` formulation would sort every cluster's members
    * instead; with dup clusters being the skew case by definition
    * (a viral page has millions of near-copies), the heap-free
    * commutative aggregate is the form that survives skew.
    */
  def dedupKeepBest(docs: DataFrame, idCol: String, textCol: String,
                    quality: Column, shingleK: Int = 3, numPerm: Int = 16,
                    bands: Int = 4): DataFrame =
    dedupKeepBestReleasable(docs, idCol, textCol, quality, shingleK,
      numPerm, bands)._1

  /** [[dedupKeepBest]] plus the edge-checkpoint release handle
    * ([[clustersReleasable]] contract — invoke after consuming the
    * result).
    */
  def dedupKeepBestReleasable(docs: DataFrame, idCol: String,
                              textCol: String, quality: Column,
                              shingleK: Int = 3, numPerm: Int = 16,
                              bands: Int = 4): (DataFrame, () => Unit) = {
    val (members, release) = clustersAutoReleasable(
      minhashCandidates(docs, idCol, textCol, shingleK, numPerm, bands))
    val withRep = docs.select(col(idCol), quality.as("_q"))
      .join(members.withColumnRenamed("member", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_rep"), col(idCol)).as("cluster_rep"),
        col("_q"))
    // argmax by (quality desc, id asc): max over struct(q, -id) —
    // lexicographic struct comparison gives highest quality, then
    // smallest id among quality ties (ids are minted non-negative, so
    // the negation cannot overflow)
    val out = withRep.groupBy("cluster_rep")
      .agg(
        max_by(struct(col(idCol).as("id"), col("_q").as("q")),
          struct(col("_q"), (-col(idCol)).as("_nid"))).as("_best"),
        count(lit(1)).as("n_members"))
      .select(col("_best.id").as(idCol), col("cluster_rep"),
        col("_best.q").as("quality"), col("n_members"))
    (out, release)
  }

  /** Embedding-cosine near-duplicate pairs: sign-bit LSH bucket on the
    * first `bits` dimensions (SimilarityOps.signBucket), cosine within
    * the bucket only — an equi-join on the bucket key, never a cross
    * product — thresholded at `threshold`. The semantic twin of
    * [[minhashCandidates]] for the modality where "same content" is
    * measured in embedding space (paraphrases, re-encodes, translations)
    * rather than token space.
    */
  def embeddingPairs(df: DataFrame, threshold: Double, bits: Int = 4,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    SimilarityOps.lshBucketed(df, threshold, bits, idCol, vecCol,
      kernel = graft.functions.CosineF32.cosineF32Native)

  /** Embedding-cosine near-dup DEDUP: drop every vector that has a
    * near-duplicate (cosine >= threshold, within its LSH bucket) with a
    * smaller id; return the survivors. The greedy keep-first rule — a
    * deterministic single anti-join, no transitive closure — is the
    * standard curation semantics ("keep the earliest copy"); when full
    * transitive groups are wanted instead, feed [[embeddingPairs]]
    * through [[clusters]]. Scale shape: one bucket-keyed equi-join + one
    * broadcast-able anti-join on the (small) drop list.
    */
  def embeddingDedup(df: DataFrame, threshold: Double, bits: Int = 4,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val drops = embeddingPairs(df, threshold, bits, idCol, vecCol)
      .select(col("b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** MinHash Jaccard ESTIMATES next to ground truth, per LSH candidate
    * pair: est = matching signature positions / numPerm (the classic
    * unbiased resemblance estimator), joined with the exact word-
    * shingle Jaccard — the estimator-quality readout a dedup pipeline
    * tunes (numPerm, bands) against. Because the signatures are
    * md5-derived, the ESTIMATES themselves verify exactly cross-engine
    * — the approximation error is deterministic, not a tolerance band.
    *
    * Scale shape: candidate pairs from the banded self-join (never all
    * pairs); signatures and distinct-shingle arrays ride one projection
    * per doc and meet the pairs through two id-keyed joins.
    */
  def minhashEstimatePairs(df: DataFrame, idCol: String, textCol: String,
                           shingleK: Int, numPerm: Int,
                           bands: Int): DataFrame = {
    val pairs = minhashCandidates(df, idCol, textCol, shingleK, numPerm,
      bands)
    // native shingle array (one JVM pass; codegen subexpression
    // elimination shares it between the two projections) — the HOF
    // formulation re-ran interpreted transform lambdas per row
    val sh = graft.functions.ShingleGen.shingleArray(col(textCol), shingleK)
    val side = df.select(col(idCol).as("_sid"),
      graft.functions.MinhashSig.minhashSigNative(sh, numPerm).as("_sig"),
      sh.as("_sh"))
    pairs
      .join(side.select(col("_sid").as("a"), col("_sig").as("_siga"),
        col("_sh").as("_sha")), Seq("a"))
      .join(side.select(col("_sid").as("b"), col("_sig").as("_sigb"),
        col("_sh").as("_shb")), Seq("b"))
      .select(col("a"), col("b"),
        round(size(filter(zip_with(col("_siga"), col("_sigb"),
            (x, y) => x === y), m => m))
          .cast("double") / numPerm, 4).as("est_jaccard"),
        round(size(array_intersect(col("_sha"), col("_shb")))
          .cast("double") /
          size(array_union(col("_sha"), col("_shb"))), 4)
          .as("exact_jaccard"))
  }

  /** Cross-document SPAN dedup (the C4/RefinedWeb "remove any text span
    * seen elsewhere in the corpus" primitive, at fixed word-window
    * granularity): segment every document into consecutive `segWords`
    * windows, keep each distinct span only at its globally-first
    * occurrence (ordered by id, then position), and reassemble the
    * surviving spans per document. Repeats WITHIN a document collapse
    * too (occurrence 2+ of a span is a duplicate wherever it appears).
    *
    * Returns one row per input document:
    * `(id, n_segs, n_kept, text_fp = md5 of the reassembled text)` —
    * the fingerprint keeps result compare compact while pinning the
    * exact reassembly.
    *
    * Scale shape: the first-occurrence selection is a MAP-SIDE ARGMIN —
    * `groupBy(seg).agg(min(struct(id, seg_idx)))` — never a
    * `row_number` window partitioned by span content. The hot key of
    * this operator is, by construction, the boilerplate span it exists
    * to excise: a span occurring in 10⁷–10⁸ documents would put its
    * whole (id, seg_idx, seg) group through ONE task's external sort
    * under WindowExec, whereas the argmin arrives at its reducer as
    * O(partials) pre-combined rows (min ≡ first under the same
    * (id, seg_idx) order, so results are identical). No join back to
    * the segments is needed at all: the winner set IS the kept-span
    * set, so reassembly aggregates winners by winner id, and the
    * per-document segment TOTAL is row-local arithmetic on the source
    * (`size(segmentArray(text))` — segmentation is deterministic, so
    * the array length equals the exploded count; never empty for
    * non-null text, matching the explode). The two per-id frames meet
    * in a near-unique-key left join (docs whose every span lost
    * resolve to n_kept = 0 / md5("")). ONE exchange carries span
    * text (the argmin's partials), one carries only winner spans, one
    * carries bare (id, n_segs) — the old window form shipped the full
    * segment stream twice. No O(n²) pair formation anywhere.
    * (PlanShapeSpec pins the no-WindowExec shape; ScaleSmoke
    * `spandedupskew` proves it on a planted ≥30%-hot-span corpus.)
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                segWords: Int): DataFrame = {
    // native segment-array kernel under a BUILTIN posexplode — the
    // declarative twin below is the executable spec (ExtOpsSpec
    // parity); see SegmentArrayExpr for why this shape beats both the
    // interpreted HOF and a custom Generator
    val src = df.filter(col(textCol).isNotNull)
    val segs = src.select(col(idCol),
      posexplode(graft.functions.ShingleGen.segmentArray(
        col(textCol), segWords)).as(Seq("seg_idx", "seg")))
    val kept = segs.groupBy(col("seg"))
      .agg(min(struct(col(idCol), col("seg_idx"))).as("_w"))
      .groupBy(col("_w").getField(idCol).as(idCol))
      .agg(count(lit(1)).as("_n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(
            struct(col("_w").getField("seg_idx").as("seg_idx"),
              col("seg")))),
          s => s.getField("seg")), " ")).as("_fp"))
    val totals = src.select(col(idCol),
      size(graft.functions.ShingleGen.segmentArray(
        col(textCol), segWords)).cast("long").as("n_segs"))
    totals.join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_segs"),
        coalesce(col("_n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("_fp"), md5(lit(""))).as("text_fp"))
  }

  /** Variable-length EXACT-SUBSTRING dedup stats — the suffix-array
    * dedup primitive (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better") re-expressed in the bucketed
    * discipline: every shared token run of ≥ `minTokens` words that
    * already occurred earlier in the corpus (global (id, position)
    * order — keep-first, dd11's rule) is marked, and per document the
    * marks merge into MAXIMAL runs. [[spanDedup]] covers fixed
    * windows on fixed boundaries; this catches a duplicated substring
    * at ANY offset and ANY length ≥ the floor — the complement
    * (prefix/suffix boilerplate, mid-document quotes).
    *
    * Returns one row per input document:
    * `(id, n_tokens, dup_tokens, dup_runs)` — dup_tokens = tokens
    * covered by some non-first shared run, dup_runs = count of
    * maximal such runs (the excision intervals).
    *
    * Formulation — anchors instead of suffixes: a shared run of
    * length L ≥ N is covered by exactly its L−N+1 anchor N-grams, and
    * the union of their [p, p+N) intervals reconstructs the FULL
    * variable-length run, so no suffix array is ever materialized.
    * Scale shape: (1) anchor grams are one codegen'd kernel pass +
    * posexplode per doc; (2) global first-occurrence per gram is the
    * dd11 map-side argmin (`groupBy(gram).agg(min(struct(id, p)))` —
    * splittable partials, never a content-keyed window); (3) non-first
    * anchors come from a LEFT ANTI join of the anchors against the
    * winner ROWS on the FULL (gram, id, p) key — the key is unique
    * per row, so the hot boilerplate gram's occurrences hash across
    * ALL partitions and no skewed partition exists by construction
    * (a join keyed on gram alone would park the hot gram's whole
    * occurrence set in one partition, and AQE's skew split cannot
    * rescue it there: the winner side carries an Aggregate between
    * its shuffle and the join, which breaks OptimizeSkewedJoin's
    * required SMJ(Sort(stage), Sort(stage)) pattern — measured in
    * PerfCompare `substrab`); (4) the per-document interval merge is
    * a sorted `aggregate()` HOF over that doc's anchor positions —
    * group size ≤ the doc's token count, never corpus-shaped.
    * (ScaleSmoke `substrskew` proves the plan on a planted
    * 100%-hot-boilerplate corpus.)
    */
  def exactSubstringStats(df: DataFrame, idCol: String, textCol: String,
                          minTokens: Int): DataFrame = {
    require(minTokens >= 2, "minTokens must be >= 2")
    val src = df.filter(col(textCol).isNotNull)
    val grams = src.select(col(idCol),
      posexplode(graft.functions.ShingleGen.shingleArray(
        col(textCol), minTokens, distinct = false))
        .as(Seq("p", "gram")))
    val firsts = grams.groupBy(col("gram"))
      .agg(min(struct(col(idCol), col("p"))).as("_f"))
      .select(col("gram"), col("_f").getField(idCol).as(idCol),
        col("_f").getField("p").as("p"))
    val marked = grams
      .join(firsts, Seq("gram", idCol, "p"), "left_anti")
      .select(col(idCol), col("p").cast("long").as("p"))
    substrStatsFromMarked(src, marked, idCol, textCol, minTokens)
  }

  /** Bank the standing corpus' first-occurrence anchor grams for
    * incremental exact-substring dedup — the dd10 artifact reasoning
    * on the dd20 axis: production banks the corpus' gram table once
    * and ingests many batches against it. One row per DISTINCT gram
    * `(gram, id, p)` (the global argmin), hash-bucketed on the gram
    * for layout stability and future compaction, clustered so
    * min/max gram stats survive. The 1-row-per-gram shape matters
    * beyond size: it makes the probe join's build side a bare
    * parquet scan, which keeps OptimizeSkewedJoin's
    * SMJ(Sort(stage), Sort(stage)) pattern INTACT for a hot batch
    * gram — the in-query Aggregate that blocked AQE's skew split in
    * the substrab A/B never exists here.
    */
  def substrBankBuild(corpus: DataFrame, dir: String, idCol: String,
                      textCol: String, minTokens: Int,
                      buckets: Int = 64): Unit = {
    val src = corpus.filter(col(textCol).isNotNull)
    val grams = src.select(col(idCol),
      posexplode(graft.functions.ShingleGen.shingleArray(
        col(textCol), minTokens, distinct = false))
        .as(Seq("p", "gram")))
    val firsts = grams.groupBy(col("gram"))
      .agg(min(struct(col(idCol), col("p"))).as("_f"))
      .select(col("gram"), col("_f").getField(idCol).as(idCol),
        col("_f").getField("p").cast("long").as("p"))
      .withColumn("_bkt", pmod(xxhash64(col("gram")), lit(buckets)))
    graft.sources.Compaction.writePartitioned(firsts, dir,
      Seq("_bkt"), clusterBy = Seq("gram"))
  }

  /** Exact-substring stats of a NEW batch against the banked standing
    * corpus — generation-ordered keep-first (the production rule: an
    * earlier ingest's occurrence wins regardless of id): EVERY batch
    * occurrence of a banked gram is duplicated (class a), and among
    * grams the bank has never seen, batch-internal non-firsts mark
    * exactly as in [[exactSubstringStats]] (class b — the full-key
    * anti join). Only the batch is gram-expanded; the bank scan is
    * bloom-reduced by the batch's gram set before either join (the
    * dd10 inversion: batch ≪ bank), and the class-a semi join's
    * build side is the bare bloom-filtered bank scan, so a hot batch
    * gram stays AQE-skew-splittable. Returns the same
    * `(id, n_tokens, dup_tokens, dup_runs)` shape as the full
    * operator, restricted to batch documents.
    */
  def exactSubstringStatsIncremental(batch: DataFrame, dir: String,
      idCol: String, textCol: String, minTokens: Int,
      immutable: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    val src = batch.filter(col(textCol).isNotNull)
    val grams = src.select(col(idCol),
      posexplode(graft.functions.ShingleGen.shingleArray(
        col(textCol), minTokens, distinct = false))
        .as(Seq("p", "gram")))
    // bloom sized from one cheap agg over the batch (token count
    // bounds the gram count); no persist — the batch is small by
    // premise and a cached plan would leak per ingest (the dd10 rule).
    // coalesce: an empty batch (legal in an ingest loop) sums to null.
    val approxGrams = src.agg(
      coalesce(sum(size(split(col(textCol), " "))).cast("long"), lit(0L)))
      .collect()(0).getLong(0)
    val bloom = BloomJoin.buildBloom(grams, col("gram"),
      math.max(approxGrams, 1L))
    val bank = (if (immutable) graft.Tables.immutablePath(spark, dir)
                else spark.read.parquet(dir))
      .filter(BloomJoin.mightContain(bloom, col("gram")))
      .select(col("gram"))
    val hit = grams.join(bank, Seq("gram"), "left_semi")
      .select(col(idCol), col("p").cast("long").as("p"))
    val rest = grams.join(bank, Seq("gram"), "left_anti")
    val bFirsts = rest.groupBy(col("gram"))
      .agg(min(struct(col(idCol), col("p"))).as("_f"))
      .select(col("gram"), col("_f").getField(idCol).as(idCol),
        col("_f").getField("p").as("p"))
    val bdup = rest.join(bFirsts, Seq("gram", idCol, "p"), "left_anti")
      .select(col(idCol), col("p").cast("long").as("p"))
    substrStatsFromMarked(src, hit.unionByName(bdup), idCol, textCol,
      minTokens)
  }

  /** Per-document gram-NOVELTY against the standing bank (dd22) — the
    * corpus-growth telemetry an ingest loop tracks batch over batch:
    * the share of a batch document's anchor grams the bank has never
    * seen. Falling novelty = the crawl is re-fetching known content;
    * per-doc novelty ~0 = the whole document is recycled (route to
    * dedup review). Same bloom-reduced bank probe as
    * [[exactSubstringStatsIncremental]] — the second consumer of the
    * banked artifact, which is the point of banking it. Exact integer
    * counts plus ONE IEEE quotient; docs with fewer than `minTokens`
    * words report zero grams and a null rate in-band.
    */
  def gramNoveltyReport(batch: DataFrame, dir: String, idCol: String,
      textCol: String, minTokens: Int,
      immutable: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    val src = batch.filter(col(textCol).isNotNull)
    val grams = src.select(col(idCol),
      posexplode(graft.functions.ShingleGen.shingleArray(
        col(textCol), minTokens, distinct = false))
        .as(Seq("p", "gram")))
    val approxGrams = src.agg(
      coalesce(sum(size(split(col(textCol), " "))).cast("long"), lit(0L)))
      .collect()(0).getLong(0)
    val bloom = BloomJoin.buildBloom(grams, col("gram"),
      math.max(approxGrams, 1L))
    val bank = (if (immutable) graft.Tables.immutablePath(spark, dir)
                else spark.read.parquet(dir))
      .filter(BloomJoin.mightContain(bloom, col("gram")))
      .select(col("gram"))
    val novel = grams.join(bank, Seq("gram"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("_novel"))
    val totals = src.select(col(idCol),
      greatest(size(split(col(textCol), " ")) - (minTokens - 1),
        lit(0)).cast("long").as("n_grams"))
    totals.join(novel, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams") > 0,
          coalesce(col("_novel"), lit(0L)).cast("double") /
            col("n_grams")).as("novelty"))
  }

  /** Shared tail of the exact-substring family: merge a document's
    * marked anchor positions into maximal intervals (sorted
    * `aggregate()` HOF, group ≤ doc tokens) and join the stats back
    * onto per-doc token totals. */
  private def substrStatsFromMarked(src: DataFrame, marked: DataFrame,
      idCol: String, textCol: String, minTokens: Int): DataFrame = {
    val n = lit(minTokens.toLong)
    val zero = struct(lit(0L).as("runs"), lit(0L).as("cov"),
      lit(-1L).as("s"), lit(-1L).as("e"))
    // sorted interval merge: anchors ascend, every interval is N wide,
    // so [p, p+N) merges into the open run iff p <= e (abutting runs
    // are one contiguous token range)
    val stats = marked.groupBy(col(idCol))
      .agg(array_sort(collect_list(col("p"))).as("_ps"))
      .select(col(idCol),
        aggregate(col("_ps"), zero,
          (st, p) => when(st.getField("e") < 0,
              struct(st.getField("runs").as("runs"),
                st.getField("cov").as("cov"),
                p.as("s"), (p + n).as("e")))
            .when(p <= st.getField("e"),
              struct(st.getField("runs").as("runs"),
                st.getField("cov").as("cov"),
                st.getField("s").as("s"), (p + n).as("e")))
            .otherwise(struct(
              (st.getField("runs") + 1).as("runs"),
              (st.getField("cov") + st.getField("e") -
                st.getField("s")).as("cov"),
              p.as("s"), (p + n).as("e"))),
          st => struct(
            when(st.getField("e") < 0, st.getField("runs"))
              .otherwise(st.getField("runs") + 1).as("dup_runs"),
            when(st.getField("e") < 0, st.getField("cov"))
              .otherwise(st.getField("cov") + st.getField("e") -
                st.getField("s")).as("dup_tokens"))).as("_st"))
      .select(col(idCol),
        col("_st").getField("dup_tokens").as("dup_tokens"),
        col("_st").getField("dup_runs").as("dup_runs"))
    val totals = src.select(col(idCol),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    totals.join(stats, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("dup_runs"), lit(0L)).as("dup_runs"))
  }

  /** Declarative twin of [[spanDedup]]'s segmentation — the executable
    * spec [[graft.functions.SegmentArrayExpr]] is parity-tested
    * against (ExtOpsSpec), never the production path.
    */
  private[graft] def segmentsDeclarative(df: DataFrame, idCol: String,
      textCol: String, segWords: Int): DataFrame = {
    val w = split(col(textCol), " ")
    val nSeg = ceil(size(w).cast("double") / segWords).cast("int")
    df.select(col(idCol), w.as("_w"), nSeg.as("_n"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), col("_n") - 1),
          i => array_join(slice(col("_w"), i * segWords + 1, lit(segWords)),
            " "))).as(Seq("seg_idx", "seg")))
  }

  /** Directional containment pairs: containment(a→b) =
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| — the asymmetric
    * metric that finds SUBSUMED documents (quotes, excerpts, page
    * fragments re-crawled inside larger pages) which symmetric Jaccard
    * misses: a 20-word excerpt of a 500-word page has Jaccard ≈ 0.04
    * but containment 1.0.
    *
    * Candidate pairs come from an inverted shingle index, NOT pairwise
    * comparison. The `maxDf` cap drops shingles appearing in more than
    * `maxDf` docs — posting lists are quadratic in length when pairs
    * form, and boilerplate shingles are precisely the ones that
    * explode; the denominator counts only capped shingles too, so the
    * metric stays internally consistent (the classic DF-cap recall
    * trade, applied identically in the oracle).
    *
    * Scale shape — ONE exchange builds the whole index: group by the
    * shingle into a size-capped posting list
    * ([[graft.functions.BoundedCollect]] — buffer memory O(maxDf) per
    * group even for a shingle in 10M docs), filter `size <= maxDf`
    * (a truncated list is by construction maxDf+1 long, so exactly the
    * over-frequent shingles drop, independent of which ids survived
    * truncation). The earlier shape spent separate keyed shuffles on
    * the df count, the semi-join back, and both sides of a pair
    * self-join on a hashed key; here pairs form MAP-SIDE by exploding
    * within each posting list (≤ maxDf² pairs per shingle — the same
    * bound the self-join had, without re-exchanging postings), and the
    * denominator explodes the same cached index. Total: one wide
    * shuffle of the shingle text, two id-keyed agg shuffles of
    * code-sized rows, one doc-count join. Never O(n²) in docs.
    *
    * Measured-and-rejected variants (PerfCompare, PERF.md): md5-keying
    * the posting exchange (hash longer than these shingles); and a
    * bloom singleton pre-filter dropping df==1 shingles before the
    * posting exchange — result-identical by construction (definite
    * singletons short-circuit into the denominator), but even on a
    * 70%-singleton corpus the pass-1 hash-count shuffle of every
    * distinct shingle plus the second corpus scan cost MORE than the
    * posting strings it saved (+11% shuffle bytes, +9% wall at 500 k
    * docs). Short shingles make the hash pass nearly as wide as the
    * strings; the shape stays re-runnable in PerfCompare.
    *
    * Small inputs run on the driver (Multistep's rule, as
    * [[SimilarityOps.semanticDedup]]): one bounded collect reads at most
    * `DriverPath.LocalShingleMaxRows` + 1 `(id, text)` rows, and an
    * input that fits, with unique non-null integral ids, gets the same
    * posting lists, cap, counts and `round(·, 4)` in driver memory
    * (`ShingleDriver`), returned as a local frame with this plan's
    * schema. Any other input runs the plan above.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int, threshold: Double, maxDf: Int): DataFrame =
    containmentPairsBounded(df, idCol, textCol, k, threshold, maxDf,
      DriverPath.LocalShingleMaxRows)

  /** [[containmentPairs]] with the driver bound open: a negative
    * `localMaxRows` forces the distributed path. */
  private[graft] def containmentPairsBounded(df: DataFrame, idCol: String,
      textCol: String, k: Int, threshold: Double, maxDf: Int,
      localMaxRows: Int): DataFrame = {
    require(maxDf >= 0, s"maxDf must be >= 0: $maxDf")
    ShingleDriver.collect(df, idCol, textCol, localMaxRows) match {
      case Some(docs) => ShingleDriver.containmentPairs(docs, k, threshold,
        maxDf)
      case None => containmentDistributed(df, idCol, textCol, k, threshold,
        maxDf)
    }
  }

  /** The Spark plan of [[containmentPairs]]. */
  private def containmentDistributed(df: DataFrame, idCol: String,
      textCol: String, k: Int, threshold: Double,
      maxDf: Int): DataFrame = {
    val sh = df.select(col(idCol),
      graft.functions.ShingleGen.shingleGen(col(textCol), k,
        distinct = true)).toDF(idCol, "_s")
    // the fused df-cap + posting build. Its two consumers (denominator,
    // pair fan-out) have identical subplans up through the aggregation,
    // so Catalyst plans ONE posting-build exchange and reuses it
    // (ReusedExchange — asserted in PlanShapeSpec); only the cheap
    // post-shuffle list assembly runs per consumer, which measured
    // faster than materializing a localCheckpoint between them
    val postings = sh.groupBy(col("_s"))
      .agg(graft.functions.BoundedCollect
        .boundedCollectList(col(idCol), maxDf + 1).as("_ids"))
      .filter(size(col("_ids")) <= maxDf)
      .select(col("_ids"))
    val nA = postings.select(explode(col("_ids")).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_a"))
    val pairs = postings
      .select(explode(col("_ids")).as("a"), col("_ids"))
      .select(col("a"), explode(col("_ids")).as("b"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs.join(nA.select(col(idCol).as("a"), col("n_a")), Seq("a"))
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n_a"), 4))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), col("n_shared"), col("containment"))
  }

  /** Blocked n-gram Jaccard similarity pairs: self-join restricted to a
    * caller-supplied blocking key (e.g. a text prefix, an LSH band, a
    * length bucket), Jaccard over distinct word sets, threshold filter.
    * The block key is what keeps this from being O(n²) — pairs are only
    * formed within blocks.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   blockKey: Column, threshold: Double): DataFrame = {
    // tokenize BEFORE the self-join: one split per row instead of one
    // per joined pair, and token arrays (not full texts) cross the join
    val base = df.select(col(idCol).as("_id"),
      words(col(textCol)).as("_w"), blockKey.as("_blk"))
    val l = base.select(col("_blk"), col("_id").as("a"), col("_w").as("_wa"))
    val r = base.select(col("_blk"), col("_id").as("b"), col("_w").as("_wb"))
    l.join(r, Seq("_blk"))
      .filter(col("a") < col("b"))
      .withColumn("jaccard",
        round(size(array_intersect(col("_wa"), col("_wb"))).cast("double") /
          size(array_union(col("_wa"), col("_wb"))), 4))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** LSH candidate-recall evaluation — the dd-family twin of ss15's
    * ANN recall harness: for a deterministic md5-bucket sample of
    * probe documents, compute the TRUE shingle-Jaccard neighbor set
    * (exact, same k-grams the MinHash signatures summarize) and flag
    * which true pairs the banded LSH candidate set caught. Output one
    * row per true pair: (a = probe, b, jaccard, caught) — the frame a
    * threshold-tuning sweep aggregates into recall-vs-jaccard curves,
    * and the gate that keeps an LSH parameter change honest (the
    * 1−(1−j^r)^b curve is only a claim until measured on the corpus).
    *
    * Scale: truth cost is sample × per-gram df — grams ride as
    * 16-byte digests, intersections count per (a, b) from ONE gram
    * equi-join, sizes join back from a per-doc aggregate; no all-pairs
    * stage. The truth side is HOT-GRAM-BOUNDED: a saturated shingle (a
    * stopword-gram present in ~every doc) would otherwise carry
    * |sample|×|corpus| pairs through the equi-join — the posting-list
    * blowup [[containmentPairs]] caps with `maxDf`, reappearing in the
    * eval. `maxTruthDf` applies the same discipline with the bias kept
    * IN-BAND instead of silently inflating recall (the CMS-8×2 lesson
    * applied to evaluation): grams with exact df > maxTruthDf are
    * excluded from BOTH the intersection and the size denominators —
    * the internally-consistent capped-universe Jaccard, exactly the
    * dd12 trade — and every output row carries `a_capped` / `b_capped`
    * (how many of that side's grams the cap dropped), so a 0/0 row is
    * certified bit-identical to uncapped truth and any nonzero row is
    * flagged approximate. Pairs whose overlap lives ENTIRELY in capped
    * grams can vanish from the truth set; their global mass is
    * reported by [[lshTruthCapReport]] — run it alongside any capped
    * eval. df is computed EXACTLY first (digest-keyed count with
    * map-side partials: the hot gram costs one long per partition,
    * never a posting list), then re-joined 1:df — linear in the gram
    * table; after the filter every gram key fans out ≤ maxTruthDf ×
    * (sampled ≤ maxTruthDf) pairs, the dd12 per-key bound.
    *
    * Small inputs run on the driver: an input of at most
    * `DriverPath.LocalShingleMaxRows` documents with unique non-null
    * integral ids is collected once and evaluated in driver memory with
    * the same generators, digests, caps and rounding (`ShingleDriver`);
    * the result is a local frame and no checkpoint is made.
    *
    * ONE LIVE RESULT per process on the distributed path: the returned
    * frame reads a staged checkpoint whose release is parked under one
    * process-global [[graft.Leases]] key, so the NEXT call to
    * `lshRecallEval` (any session, any arguments) frees it. Consume a
    * result fully before calling again; a frame kept past the next call
    * fails with missing blocks. A caller that needs overlapping results
    * must use [[lshRecallEvalReleasable]] and release each handle
    * itself. A driver-path result reads no checkpoint, so the next call
    * cannot invalidate it.
    */
  def lshRecallEval(df: DataFrame, idCol: String, textCol: String,
                    shingleK: Int, numPerm: Int, bands: Int,
                    theta: Double, samplePct: Int,
                    maxTruthDf: Int = 100000): DataFrame = {
    val (out, rel) = lshRecallEvalReleasable(df, idCol, textCol, shingleK,
      numPerm, bands, theta, samplePct, maxTruthDf)
    // Park the handle instead of discarding it (advisor r18): a
    // discarded handle leaks the tagged checkpoint's blocks per call —
    // and in reliable mode (spark.graft.checkpoint.dir) its FILES,
    // permanently. The deferred-by-one swap frees the previous call's
    // checkpoint once its frame has been consumed; the last one is
    // freed by Leases.releaseAll or the next call.
    graft.Leases.swap("dedupops.lshRecallEval", rel)(out)
  }

  /** [[lshRecallEval]] plus the release handle for the staged gram
    * checkpoint the returned frame reads lazily — the
    * [[clustersReleasable]] contract. The staging exists for plan
    * shape, not semantics: the df-tagged gram table feeds FIVE
    * consumers (size denominators ×2, probe side, build side, and the
    * frequency join underneath them), and un-staged Catalyst
    * re-derives the shingle explode + digest for each — the r18 plan
    * audit measured 10 Generate subtrees / 40 parquet scans in the
    * dd18 plan, 3.5× the lane's steady cost. One checkpoint of the raw
    * grams (the shingle explode computed ONCE) plus one of the
    * df-tagged table turns every downstream consumer into a block
    * scan; the grams checkpoint is released inline once the tagged
    * table is materialized. Results are bit-identical (same
    * expressions, same cap discipline — the oracle replays unchanged).
    * On the driver path the handle has nothing to free.
    */
  def lshRecallEvalReleasable(df: DataFrame, idCol: String, textCol: String,
                    shingleK: Int, numPerm: Int, bands: Int,
                    theta: Double, samplePct: Int,
                    maxTruthDf: Int = 100000): (DataFrame, () => Unit) =
    lshRecallEvalBounded(df, idCol, textCol, shingleK, numPerm, bands,
      theta, samplePct, maxTruthDf, DriverPath.LocalShingleMaxRows)

  /** [[lshRecallEvalReleasable]] with the driver bound open: a negative
    * `localMaxRows` forces the distributed path. */
  private[graft] def lshRecallEvalBounded(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numPerm: Int, bands: Int,
      theta: Double, samplePct: Int, maxTruthDf: Int,
      localMaxRows: Int): (DataFrame, () => Unit) = {
    require(maxTruthDf >= 1, s"maxTruthDf must be >= 1: $maxTruthDf")
    ShingleDriver.collect(df, idCol, textCol, localMaxRows) match {
      case Some(docs) =>
        (ShingleDriver.lshRecallEval(docs, shingleK, numPerm, bands, theta,
          samplePct, maxTruthDf, gramDigest, sampleBucket), () => ())
      case None => lshRecallEvalDistributed(df, idCol, textCol, shingleK,
        numPerm, bands, theta, samplePct, maxTruthDf)
    }
  }

  /** The 16-byte md5 digest [[lshRecallEval]] keys a gram by. */
  private def gramDigest(s: Column): Column = unhex(md5(s))

  /** The lower-hex md5 digest [[lshTruthCapReport]] names a gram by. */
  private def gramHex(s: Column): Column = lower(md5(s))

  /** An id's probe-sample bucket, 0–99. */
  private def sampleBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") % 100

  /** The Spark plan of [[lshRecallEvalReleasable]]. */
  private def lshRecallEvalDistributed(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numPerm: Int, bands: Int,
      theta: Double, samplePct: Int,
      maxTruthDf: Int): (DataFrame, () => Unit) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val grams = graft.Ckpt(distinctShingles(df, idCol, textCol, shingleK)
      .select(col("_id"), gramDigest(col("_s")).as("_g")),
      MEMORY_AND_DISK_SER)
    val dfreq = grams.groupBy("_g").agg(count(lit(1)).as("_df"))
    val tagged = graft.Ckpt(grams.join(dfreq, Seq("_g")),
      MEMORY_AND_DISK_SER)
    graft.Release(grams) // tagged is materialized; nothing reads grams now
    val sizes = tagged.groupBy("_id").agg(
      sum(when(col("_df") <= maxTruthDf, 1L).otherwise(0L)).as("_n"),
      sum(when(col("_df") > maxTruthDf, 1L).otherwise(0L)).as("_nc"))
    val kept = tagged.filter(col("_df") <= maxTruthDf)
      .select("_id", "_g")
    val probeGrams = kept.filter(sampleBucket(col("_id")) < samplePct)
      .select(col("_id").as("a"), col("_g"))
    val inter = probeGrams
      .join(kept.select(col("_id").as("b"), col("_g")), Seq("_g"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("_i"))
    val truth = inter
      .join(sizes.select(col("_id").as("a"), col("_n").as("_na"),
        col("_nc").as("a_capped")), "a")
      .join(sizes.select(col("_id").as("b"), col("_n").as("_nb"),
        col("_nc").as("b_capped")), "b")
      .withColumn("jaccard", round(col("_i").cast("double") /
        (col("_na") + col("_nb") - col("_i")), 4))
      .filter(col("jaccard") >= theta)
      .select("a", "b", "jaccard", "a_capped", "b_capped")
    val cand = minhashCandidates(df, idCol, textCol, shingleK, numPerm,
        bands)
      .withColumn("_hit", lit(true))
    val out = truth
      .join(cand,
        least(truth("a"), truth("b")) === cand("a") &&
          greatest(truth("a"), truth("b")) === cand("b"), "left")
      .select(truth("a"), truth("b"), col("jaccard"),
        coalesce(col("_hit"), lit(false)).as("caught"),
        col("a_capped"), col("b_capped"))
    (out, () => graft.Release(tagged))
  }

  /** (_id, _s): one row per distinct word k-shingle of each text, the
    * native generator's rows of `explode(shingles(text, k))`. */
  private def distinctShingles(df: DataFrame, idCol: String,
                               textCol: String, k: Int): DataFrame =
    df.select(col(idCol),
      graft.functions.ShingleGen.shingleGen(col(textCol), k,
        distinct = true)).toDF("_id", "_s")

  /** The global bias ledger for a capped [[lshRecallEval]]: one row per
    * gram the `maxTruthDf` cap excluded from the truth universe —
    * (gram_digest, df, pair_mass) where pair_mass = df·(df−1)/2 is the
    * candidate-pair count that gram alone would have pushed through an
    * uncapped truth join. Σ pair_mass bounds the truth pairs the cap
    * could have hidden entirely (a pair vanishes only when ALL its
    * over-threshold overlap sits in capped grams), so `capped eval +
    * this report` carries strictly more information than the uncapped
    * eval's silent cost cliff. The frame is hot-grams-only — tiny by
    * construction (df > maxTruthDf is the boilerplate tail). Inputs of
    * at most `DriverPath.LocalTruthCapMaxRows` documents run on the
    * driver, as [[lshRecallEval]]'s small inputs do.
    */
  def lshTruthCapReport(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, maxTruthDf: Int): DataFrame =
    lshTruthCapReportBounded(df, idCol, textCol, shingleK, maxTruthDf,
      DriverPath.LocalTruthCapMaxRows)

  /** [[lshTruthCapReport]] with the driver bound open: a negative
    * `localMaxRows` forces the distributed path. */
  private[graft] def lshTruthCapReportBounded(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, maxTruthDf: Int,
      localMaxRows: Int): DataFrame =
    ShingleDriver.collect(df, idCol, textCol, localMaxRows) match {
      case Some(docs) => ShingleDriver.lshTruthCapReport(docs, shingleK,
        maxTruthDf, gramHex)
      case None => truthCapDistributed(df, idCol, textCol, shingleK,
        maxTruthDf)
    }

  /** The Spark plan of [[lshTruthCapReport]]. */
  private def truthCapDistributed(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, maxTruthDf: Int): DataFrame =
    distinctShingles(df, idCol, textCol, shingleK)
      .select(gramHex(col("_s")).as("gram_digest"))
      .groupBy("gram_digest").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxTruthDf)
      // integer div — exact at any df (df·(df−1) is always even)
      .select(col("gram_digest"), col("df"),
        expr("df * (df - 1) div 2").as("pair_mass"))
}

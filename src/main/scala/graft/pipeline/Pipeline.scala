package graft.pipeline

import graft.functions._
import graft.tools.Jobs.describedAs
import graft.tools.Partitions
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import scala.collection.mutable

/**
 * Large-scale training-data pipeline operators: deduplication families,
 * similarity search, text analysis. All operators are expressed as
 * DataFrame transformations over native expressions — no driver-side
 * materialization, every shuffle keyed so the plan scales to 100 TB
 * (LSH buckets / band keys / grid cells are the shuffle keys; skew is
 * bounded by band width).
 */
object Tx {
  def simhash64(text: Column, ngram: Int = 3, seed: Long = 42L): Column =
    Bridge.column(SimHash64(Bridge.expression(text), ngram, seed))
  def minhash_signature(text: Column, shingle: Int = 3, numHashes: Int = 64,
                        seed: Long = 42L): Column =
    Bridge.column(MinHashSignature(Bridge.expression(text), shingle, numHashes, seed))
  def ngram_jaccard(a: Column, b: Column, ngram: Int = 3): Column =
    Bridge.column(NgramJaccard(Bridge.expression(a), Bridge.expression(b), ngram))
  def doc_fingerprint(text: Column, seed: Long = 42L): Column =
    Bridge.column(DocFingerprint(Bridge.expression(text), seed))
  def token_ngram_hashes(text: Column, ngram: Int, seed: Long = 0L): Column =
    Bridge.column(TokenNgramHashes(Bridge.expression(text), ngram, seed))
  def cosine_similarity(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
  def pq_encode(vec: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqEncode(Bridge.expression(vec), codebook))
  def pq_lut(vec: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqLut(Bridge.expression(vec), codebook))
  def quantized_dot(a: Column, b: Column, scale: Double = 1000.0): Column =
    Bridge.column(QuantizedDot(Bridge.expression(a), Bridge.expression(b), scale))
  def srp_bits(vec: Column, bits: Int = 16, seed: Long = 42L): Column =
    Bridge.column(SrpBits(Bridge.expression(vec), bits, seed))
  def mix64_hash(c: Column): Column =
    Bridge.column(Mix64(Bridge.expression(c)))
  def vector_sum(vec: Column): Column =
    Bridge.column(VectorSumAgg(Bridge.expression(vec)).toAggregateExpression())
  def vector_outer_sum(vec: Column, scale: Double, dim: Int): Column =
    Bridge.column(VectorOuterSumAgg(Bridge.expression(vec), scale, dim)
      .toAggregateExpression())

  /** Register the pipeline functions on a session's SQL surface (default
    * hyperparameters), completing the spark.sql story next to
    * Geo.registerAll. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    Bridge.registerFunction(spark, "simhash64", es => SimHash64(es.head, 3, 42L))
    Bridge.registerFunction(spark, "minhash_signature",
      es => MinHashSignature(es.head, 3, 64, 42L))
    Bridge.registerFunction(spark, "ngram_jaccard",
      es => NgramJaccard(es(0), es(1), 3))
    Bridge.registerFunction(spark, "doc_fingerprint",
      es => DocFingerprint(es.head, 42L))
    Bridge.registerFunction(spark, "token_ngram_hashes",
      es => TokenNgramHashes(es.head, 8, 0L))
    Bridge.registerFunction(spark, "cosine_similarity",
      es => CosineSimilarity(es(0), es(1)))
    Bridge.registerFunction(spark, "dot_product",
      es => DotProduct(es(0), es(1)))
    Bridge.registerFunction(spark, "quantized_dot",
      es => QuantizedDot(es(0), es(1), 1000.0))
    Bridge.registerFunction(spark, "srp_bits", es => SrpBits(es.head, 16, 42L))
    Bridge.registerFunction(spark, "vector_sum",
      es => VectorSumAgg(org.apache.spark.sql.catalyst.expressions.Cast(es.head,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
        .toAggregateExpression())
    Bridge.registerFunction(spark, "lang_id", es => LangId(es.head,
      Seq("es", "fr", "de", "en").map(l => l -> TextAnalysis.langStopwords(l))))
  }
}

object Dedup {
  import Tx._

  /** Exact dedup: keep the lowest-id row per identical value of `byCol`.
    * ONE shuffle on the dedup key (rank within identical values) —
    * strictly better than groupBy + semi-join, which shuffles the key
    * twice and computes the input twice. Skew is bounded by the
    * duplicate count per value. Rows with a null key or null id never
    * survive (same as the equi-join formulation, where null never
    * matches).
    *
    * `idCol` is expected to be UNIQUE per key value: exactly ONE row per
    * key survives. If several rows tie at the minimum id, one arbitrary
    * tied row is kept (row_number semantics) — unlike a min-id semi-join,
    * which would keep every tied row. */
  def exact(df: DataFrame, byCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(byCol)).orderBy(col(idCol))
    df.where(col(byCol).isNotNull && col(idCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[exact]] generalized to an arbitrary keep policy: ONE survivor
    * per `byCol` value, chosen as the first row under `keepOrder`
    * (e.g. `Seq(col("quality").desc, col("doc_id"))` keeps the
    * highest-quality copy — the "keep best, not first" dedup every
    * curation pipeline wants). Same single-shuffle row_number plan as
    * [[exact]]; make the order total (append a unique id) or ties
    * resolve arbitrarily. Null keys never survive. */
  def exactKeepBest(df: DataFrame, byCol: String,
                    keepOrder: Seq[Column]): DataFrame = {
    require(keepOrder.nonEmpty, "keepOrder must not be empty")
    val w = Window.partitionBy(col(byCol)).orderBy(keepOrder: _*)
    df.where(col(byCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * Paragraph-level exact dedup (the CCNet/RefinedWeb shape): documents
   * are split on `sep`, each paragraph survives ONLY in the document
   * where it first occurs — "first" = smallest (id, position) over the
   * whole corpus — and surviving paragraphs are reassembled in their
   * original order. Documents whose every paragraph was seen earlier
   * disappear from the output (their `text` would be empty).
   *
   * Plan shape at scale: posexplode (narrow, bounded by paragraphs/doc),
   * ONE shuffle keyed on the paragraph to pick each paragraph's first
   * holder (window row_number — same single-shuffle shape as [[exact]]),
   * one more shuffle on the id to reassemble. The paragraph text rides
   * the first shuffle exactly once — the same bytes any corpus-level
   * dedup must move.
   *
   * With `byHash` the dedup key is the paragraph's 64-bit xxhash64
   * instead of its text: the shuffle key shrinks to 8 bytes and a
   * pathological skew on one huge paragraph value hashes uniformly; a
   * 64-bit collision could only OVER-dedup, with probability
   * ~paragraphs²/2⁶⁴ (the same contract as the hashed decontamination
   * grams). Keep it off when hash-matching a string-keyed oracle.
   */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n", byHash: Boolean = false): DataFrame =
    dedupChunksCore(
      df.where(col(idCol).isNotNull && col(textCol).isNotNull)
        .select(col(idCol),
          posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))),
      idCol, textCol, sep, byHash)

  /**
   * Chunk-level dedup over CONTENT-DEFINED boundaries: documents split
   * by [[TextAnalysis.cdcChunks]], each chunk survives only in the
   * document where it first occurs, survivors concatenate back (no
   * separator — CDC chunks partition the text exactly). Because CDC
   * boundaries re-synchronize across insertions, a document that
   * embeds a shifted copy of earlier content loses exactly the copied
   * span and keeps its novel prefix/suffix — the "strip boilerplate
   * and partial copies" operator that paragraph dedup (separator-
   * bound) and whole-doc dedup (all-or-nothing) both miss. Same
   * single-chunk-keyed-shuffle plan as [[dedupParagraphs]].
   */
  def dedupCdcChunks(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 8, maskBits: Int = 5, minChunk: Int = 16,
                     seed: Long = 42L, byHash: Boolean = false): DataFrame =
    dedupChunksCore(
      df.where(col(idCol).isNotNull && col(textCol).isNotNull)
        .select(col(idCol),
          posexplode(TextAnalysis.cdcChunks(col(textCol), window, maskBits,
            minChunk, seed))),
      idCol, textCol, "", byHash)

  /** Shared first-occurrence core: input rows (id, pos, chunk) from a
    * posexplode; each chunk value survives only at its smallest
    * (id, pos); survivors reassemble in order, `joinSep`-joined. ONE
    * chunk-keyed shuffle (window row_number) + one id-keyed reassembly
    * shuffle. Documents reduced to nothing disappear. */
  private def dedupChunksCore(exploded: DataFrame, idCol: String,
                              textCol: String, joinSep: String,
                              byHash: Boolean): DataFrame = {
    val chunks = exploded
      .withColumnRenamed("pos", "__pos")
      .withColumnRenamed("col", "__chunk")
    val key = if (byHash) xxhash64(col("__chunk")) else col("__chunk")
    val w = Window.partitionBy(key).orderBy(col(idCol), col("__pos"))
    val firsts = chunks
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
    firsts.groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__chunk")))),
          x => x("__chunk")),
        joinSep).as(textCol))
  }

  /**
   * Cross-document duplicate-SPAN removal (the exact-substring dedup of
   * Lee et al., "Deduplicating Training Data Makes Language Models
   * Better", re-expressed over fixed token windows): every `span`-token
   * window whose hash first occurred in an EARLIER document is cut from
   * the text; the first holder keeps its copy, and only the covered
   * tokens vanish — novel prefix/suffix text around a quoted/boilerplate
   * block survives. Whitespace is normalized to single spaces (the
   * token-level operation cannot preserve the original layout).
   *
   * Returns (idCol, textCol, kept_tokens, removed_tokens); documents
   * whose every token is covered (full copies) come back as "".
   *
   * Plan shape at scale:
   *   1. one narrow pass fusing tokenize+gram+hash ([[Tx.token_ngram_hashes]]),
   *   2. ONE gram-keyed exchange feeding BOTH the min-doc aggregate and
   *      the join back (ReuseExchange, plan-gated — the aggregate
   *      min's over an (id, pos) struct so both consumers prune the
   *      same columns and the exchange subtrees stay identical); only
   *      8-byte hashes + positions shuffle, never text,
   *   3. covered token indices explode bounded by span x dup-grams, then
   *      an (id, idx)-keyed anti-join against the exploded tokens — the
   *      one shuffle that carries token text, linear in corpus size
   *      (never the O(tokens x dups) per-row scan a mask expression
   *      would cost on a dup-heavy doc),
   *   4. id-keyed reassembly (sort-by-position array_join), the same
   *      shape every chunk-level dedup here uses.
   * A 64-bit gram-hash collision could only OVER-remove, with
   * probability ~grams²/2⁶⁴ — the same contract as decontamination,
   * and the string-keyed oracle gates hash fidelity end to end.
   */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     span: Int = 8): DataFrame = {
    require(span >= 1, "span must be >= 1")
    val d = df.where(col(idCol).isNotNull && col(textCol).isNotNull)
    val grams = d.select(col(idCol),
        posexplode(token_ngram_hashes(col(textCol), span)))
      .withColumnRenamed("pos", "__gp")
      .withColumnRenamed("col", "__gh")
      .repartition(col("__gh"))
    // min over the (id, pos) struct instead of min(id): the id field is
    // the same minimum, but the aggregate then consumes the IDENTICAL
    // (id, __gp, __gh) projection as the join side below — the two
    // exchange subtrees canonicalize equal and ReuseExchange fires
    // (min(id) alone lets column pruning strip __gp from this branch,
    // and the no-longer-identical exchanges would both run)
    val firsts = grams.groupBy(col("__gh"))
      .agg(min(struct(col(idCol).as("i"), col("__gp").as("p"))).as("__m"))
      .select(col("__gh"), col("__m.i").as("__first"))
    val covered = grams.join(firsts, "__gh")
      .where(col(idCol) > col("__first"))
      .select(col(idCol),
        explode(sequence(col("__gp"), col("__gp") + (span - 1))).as("__idx"))
      .distinct()
    val toks = d.select(col(idCol),
        posexplode(split(trim(col(textCol)), "\\s+")))
      .withColumnRenamed("pos", "__idx")
      .withColumnRenamed("col", "__tok")
      .where(col("__tok") =!= "")
    val rebuilt = toks.join(covered, Seq(idCol, "__idx"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__idx"), col("__tok")))),
          x => x("__tok")), " ").as("__clean"),
        count(lit(1)).as("__kept"))
    d.select(col(idCol), TextAnalysis.tokenCount(col(textCol)).as("__n"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__clean"), lit("")).as(textCol),
        coalesce(col("__kept"), lit(0L)).as("kept_tokens"),
        (col("__n") - coalesce(col("__kept"), lit(0L))).as("removed_tokens"))
  }

  /**
   * MinHash + LSH near-duplicate candidate pairs, verified with exact
   * n-gram Jaccard.
   *
   * Plan shape (scales to 100 TB):
   *   1. one pass computing the signature (narrow),
   *   2. explode to `bands` rows per doc (narrow, bounded 'bands'x blowup),
   *   3. shuffle on (band index, band hash) — near-dups collide,
   *   4. within-bucket self-join (skew bounded: identical docs cap bucket
   *      size; a pathological bucket can be salted upstream),
   *   5. distinct pairs; identical-TEXT pairs (8-byte xxhash64 equality,
   *      carried through the banding) short-circuit to jaccard 1.0 —
   *      in a dedup-heavy corpus most colliding pairs are exact copies,
   *      and they skip the refine entirely,
   *   6. exact n-gram Jaccard refine (joins text back in) for the
   *      remaining genuinely-near pairs only.
   *
   * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold,
   * plus a release handle that unpersists the candidate-pair cache (the
   * largest intermediate at scale) once the result is consumed.
   */
  def minhashDupPairsWithRelease(df: DataFrame, idCol: String, textCol: String,
                                 shingle: Int = 3, numHashes: Int = 64,
                                 bands: Int = 16, threshold: Double = 0.7)
      : (DataFrame, () => Unit) =
    minhashDupPairsImpl(df, idCol, textCol, shingle, numHashes, bands,
      threshold, pin = true)

  private def minhashDupPairsImpl(df: DataFrame, idCol: String, textCol: String,
                                  shingle: Int, numHashes: Int,
                                  bands: Int, threshold: Double, pin: Boolean)
      : (DataFrame, () => Unit) = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val rows = numHashes / bands
    // docs with fewer than `shingle` tokens have no shingles: their
    // signatures are all Long.MaxValue and every such pair would collide
    // in every band (ADVICE r1). They can never pass the Jaccard refine
    // (empty-vs-empty = 0), so drop them before banding.
    val eligible = df.where(
      TextAnalysis.tokenCount(col(textCol)) >= shingle)
    val sig = eligible.select(col(idCol), col(textCol),
      minhash_signature(col(textCol), shingle, numHashes).as("__sig"))

    // Repartition on the bucket key BEFORE the self-join: both join
    // inputs then sit above the SAME exchange (ReuseExchange), so the
    // signature pass runs ONCE — and a shuffle join on the bucket key is
    // exactly the plan a 100 TB self-join needs (no broadcast exists).
    // `__th` (xxhash64 of the text, 8 bytes/row through the shuffle)
    // funds the exact-duplicate fast path below.
    val banded = sig.select(col(idCol), xxhash64(col(textCol)).as("__th"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("__sig"), b * rows + 1, lit(rows)), b))))
      .withColumnRenamed("pos", "__band")
      .withColumnRenamed("col", "__bandhash")
      .repartition(col("__band"), col("__bandhash"))

    val l = banded.select(col(idCol).as("id_a"), col("__th").as("__th_a"),
      col("__band"), col("__bandhash"))
    val r = banded.select(col(idCol).as("id_b"), col("__th").as("__th_b"),
      col("__band"), col("__bandhash"))
    // __same is functionally dependent on the pair, so the distinct's
    // cardinality (and shuffle width, +1 byte) is unchanged. The
    // one-materialization step matters: the exact/near branches below
    // filter on __same, Catalyst pushes those filters BELOW the
    // distinct, and the no-longer-identical subplans would defeat
    // exchange reuse — the band join would run twice. pin=true uses
    // persist + the deterministic release handle; pin=false (the
    // handle-less wrapper) uses a lazy localCheckpoint instead, which
    // the ContextCleaner reclaims on GC — persisting there would pin
    // the largest intermediate in the CacheManager forever.
    val cand0 = l.join(r, Seq("__band", "__bandhash"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("__th_a") === col("__th_b")).as("__same"))
      .distinct()
    refineCandidates(cand0, df, idCol, textCol, shingle, threshold, pin)
  }

  /** Shared candidate→result tail of the pair-join family: pin the
    * distinct candidate set (persist + release handle, or a GC-reclaimed
    * localCheckpoint), short-circuit identical-text pairs to jaccard 1.0,
    * and exact-refine the genuinely-near remainder via the two text
    * joins. `cand0` must have columns (id_a, id_b, __same) where __same
    * means the two texts hash-compare equal. */
  private def refineCandidates(cand0: DataFrame, df: DataFrame,
                               idCol: String, textCol: String,
                               shingle: Int, threshold: Double, pin: Boolean)
      : (DataFrame, () => Unit) =
    refineCandidatesTwo(cand0,
      df.select(col(idCol).as("id_a"), col(textCol).as("__text_a")),
      df.select(col(idCol).as("id_b"), col(textCol).as("__text_b")),
      shingle, threshold, pin)

  /** [[refineCandidates]] over two (possibly distinct) text sides:
    * `ta` must have (id_a, __text_a), `tb` (id_b, __text_b). */
  private def refineCandidatesTwo(cand0: DataFrame, ta: DataFrame,
                                  tb: DataFrame, shingle: Int,
                                  threshold: Double, pin: Boolean)
      : (DataFrame, () => Unit) = {
    val candidates = if (pin) cand0.persist() else cand0.localCheckpoint(false)

    // Identical text => every shingle set identical => exact Jaccard is
    // 1.0 (eligible docs have >= 1 shingle), and threshold <= 1.0 always
    // keeps it. These pairs never touch the two text joins — the refine
    // shrinks to the genuinely-near tail. Both branches filter the SAME
    // bucket-join output above the one reused exchange.
    val exactDups = candidates.where(col("__same"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    val refined = candidates.where(!col("__same"))
      .select(col("id_a"), col("id_b"))
      .join(ta, "id_a").join(tb, "id_b")
      .withColumn("jaccard", ngram_jaccard(col("__text_a"), col("__text_b"), shingle))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (exactDups.unionAll(refined), () => { candidates.unpersist(false); () })
  }

  /** [[minhashDupPairsWithRelease]] without the release handle: the
    * candidate set rides a GC-reclaimed localCheckpoint instead of a
    * CacheManager-pinned persist, so repeated invocations don't
    * accumulate permanent cache entries. Prefer the handle variant
    * when the caller controls result consumption. */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      shingle: Int = 3, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.7): DataFrame =
    minhashDupPairsImpl(df, idCol, textCol, shingle, numHashes,
      bands, threshold, pin = false)._1

  /**
   * EXACT set-similarity self-join by prefix filtering (the
   * AllPairs/PPJoin family): ALL pairs with n-gram Jaccard >= threshold
   * — no LSH approximation, and never an all-pairs scan.
   *
   * Why it is lossless: order every doc's distinct gram-hash set by one
   * global total order (ascending Long — gram hashes are uniform, so
   * this behaves like a random permutation of the gram universe). If
   * J(x,y) >= t then |x∩y| >= t/(1+t)·(|x|+|y|) >= ceil(t·max(|x|,|y|)),
   * and two sets overlapping in >= a elements must collide within their
   * first |s| - a + 1 ordered elements — so a pair that never collides
   * on a prefix gram cannot qualify. Prefix length per doc is
   * |S| - ceil(t·|S|) + 1 (a relative -1e-9 nudge keeps FP from rounding
   * the ceil UP: a too-long prefix only adds candidates, a too-short one
   * would lose pairs).
   *
   * Plan shape (scales to 100 TB):
   *   1. one narrow pass: distinct gram hashes, sorted, prefix slice,
   *   2. posexplode to ~(1-t)·|S| rows per doc (vs. the minhash path's
   *      fixed `bands` rows — prefix filtering pays per unique gram but
   *      returns EVERY qualifying pair, not a probabilistic superset),
   *   3. shuffle on the 8-byte gram hash (ReuseExchange: one exchange
   *      feeds both self-join sides),
   *   4. within-bucket join with the symmetric length filter
   *      (t·|a| <= |b| and t·|b| <= |a|, 1e-6 slack so FP product error
   *      can only ADD candidates — exact for any |S| < ~4.5e9),
   *   5. distinct pairs; identical-text pairs short-circuit to 1.0 and
   *      skip the text re-join; the rest exact-refine (shared tail with
   *      [[minhashDupPairs]]).
   *
   * Versus [[minhashDupPairs]]: same output CONTRACT but guaranteed
   * recall 1.0 at any threshold; costs one prefix-gram row per doc per
   * ~(1-t) of its vocabulary instead of a fixed band count, so it wins
   * at high thresholds (t >= 0.8 → prefix ~20% of grams) and loses at
   * low ones.
   *
   * `rareFirst` (default) orders each doc's grams by ASCENDING corpus
   * frequency (the AllPairs/PPJoin canonical order): prefixes then hold
   * the RAREST grams, so a hot gram (a stopword phrase shared by d
   * docs, an O(d²) candidate bucket under any frequency-blind order)
   * almost never lands in a prefix. Costs one counts-only corpus pass
   * (map-side combine → one row per distinct gram) + a gram-keyed join
   * and a per-doc regroup; `rareFirst = false` skips the stats pass and
   * orders by the gram hash — fewer shuffles, hot-gram-exposed. Both
   * orders are GLOBAL total orders, so both are lossless. Measured at
   * sf0.1 (t=0.8, synthetic near-uniform vocabulary) rare-first cuts
   * candidates ~1.9x (81k → 43k) and wall time ~1.4x; on a real corpus
   * with Zipfian gram frequencies the gap widens — a stopword phrase in
   * d docs is an O(d²) bucket that rare-first never builds.
   *
   * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
   */
  def jaccardDupPairs(df: DataFrame, idCol: String, textCol: String,
                      shingle: Int = 3, threshold: Double = 0.7,
                      rareFirst: Boolean = true): DataFrame =
    jaccardDupPairsImpl(df, idCol, textCol, shingle, threshold,
      rareFirst, pin = false)._1

  /** [[jaccardDupPairs]] with a deterministic release handle for the
    * candidate-pair cache (same contract as
    * [[minhashDupPairsWithRelease]]). */
  def jaccardDupPairsWithRelease(df: DataFrame, idCol: String, textCol: String,
                                 shingle: Int = 3, threshold: Double = 0.7,
                                 rareFirst: Boolean = true)
      : (DataFrame, () => Unit) =
    jaccardDupPairsImpl(df, idCol, textCol, shingle, threshold,
      rareFirst, pin = true)

  private def jaccardDupPairsImpl(df: DataFrame, idCol: String, textCol: String,
                                  shingle: Int, threshold: Double,
                                  rareFirst: Boolean, pin: Boolean)
      : (DataFrame, () => Unit) = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    // Docs with no grams can never reach `threshold` against anything
    // (empty ∩ anything = 0), so they are dropped, and |S| >= 1 makes
    // the prefix length >= 1. Either branch yields (id, __th, __g)
    // with __g the distinct gram set in ONE global total order — the
    // precondition of the prefix lemma.
    val sized = (if (rareFirst) {
      // (id, gram) explode → df counts (counts-only shuffle, map-side
      // combine) → gram-keyed join (hot grams spread by AQE skew
      // handling; the carried payload is just id+th) → per-doc regroup
      // sorted by (df, gram). The explode is computed twice (the agg's
      // map-side partials and the join feed different exchanges) — two
      // narrow corpus scans, same trade as lmFamiliaritySelf.
      val exploded = df.select(col(idCol), xxhash64(col(textCol)).as("__th"),
        explode(array_distinct(
          token_ngram_hashes(col(textCol), shingle))).as("__gram"))
      val freq = exploded.groupBy(col("__gram")).agg(count(lit(1)).as("__df"))
      exploded.join(freq, Seq("__gram"))
        .groupBy(col(idCol))
        .agg(first(col("__th")).as("__th"),
          transform(array_sort(
              collect_list(struct(col("__df"), col("__gram")))),
            x => x("__gram")).as("__g"))
    } else {
      df.select(col(idCol), xxhash64(col(textCol)).as("__th"),
        array_sort(array_distinct(
          token_ngram_hashes(col(textCol), shingle))).as("__g"))
    })
      .withColumn("__n", size(col("__g")))
      .where(col("__n") >= 1)
    val prefLen = (col("__n")
      - ceil(col("__n") * threshold * (1.0 - 1e-9)).cast("int") + 1)
    // Same ReuseExchange discipline as the minhash path: repartition on
    // the join key so ONE exchange feeds both self-join inputs — the
    // gram pass runs once.
    val pref = sized
      .select(col(idCol), col("__n"), col("__th"),
        explode(slice(col("__g"), lit(1), prefLen)).as("__gram"))
      .repartition(col("__gram"))
    val l = pref.select(col(idCol).as("id_a"), col("__n").as("__n_a"),
      col("__th").as("__th_a"), col("__gram"))
    val r = pref.select(col(idCol).as("id_b"), col("__n").as("__n_b"),
      col("__th").as("__th_b"), col("__gram"))
    // Symmetric length filter: J >= t forces t·|a| <= |b| (and vice
    // versa). The 1e-6 slack only ever ADMITS a boundary pair the FP
    // product would wrongly reject; false admissions die in the refine.
    val cand0 = l.join(r, Seq("__gram"))
      .where(col("id_a") < col("id_b") &&
        col("__n_a") * threshold <= col("__n_b") + 1e-6 &&
        col("__n_b") * threshold <= col("__n_a") + 1e-6)
      .select(col("id_a"), col("id_b"),
        (col("__th_a") === col("__th_b")).as("__same"))
      .distinct()
    refineCandidates(cand0, df, idCol, textCol, shingle, threshold, pin)
  }

  /** One side of a prefix-filtered join: (id, __n, __th, __gram) with
    * one row per prefix gram, prefixes drawn from the ascending-hash
    * global gram order (see [[jaccardDupPairs]] for the lossless
    * argument; both join sides must use the SAME order, which a pure
    * hash order guarantees with no coordination). */
  private def prefixExplode(df: DataFrame, idCol: String, textCol: String,
                            shingle: Int, threshold: Double): DataFrame = {
    val sized = df.select(col(idCol), xxhash64(col(textCol)).as("__th"),
        array_sort(array_distinct(
          token_ngram_hashes(col(textCol), shingle))).as("__g"))
      .withColumn("__n", size(col("__g")))
      .where(col("__n") >= 1)
    val prefLen = (col("__n")
      - ceil(col("__n") * threshold * (1.0 - 1e-9)).cast("int") + 1)
    sized.select(col(idCol), col("__n"), col("__th"),
      explode(slice(col("__g"), lit(1), prefLen)).as("__gram"))
  }

  /**
   * EXACT cross-corpus near-duplicate pairs — the A×B version of
   * [[jaccardDupPairs]]: every (probe id_a, corpus id_b, jaccard) pair
   * with n-gram Jaccard >= threshold, never an all-pairs scan. Both
   * sides prefix-filter under the SAME hash gram order, so the prefix
   * lemma applies unchanged (lossless at any threshold); the join
   * shuffles only 8-byte gram keys + ids, identical-text pairs skip the
   * refine. Ids live in separate namespaces — no id_a < id_b dedup, a
   * doc present verbatim in both sides surfaces as a jaccard-1.0 pair.
   */
  def jaccardPairsAgainst(probe: DataFrame, corpus: DataFrame,
                          idCol: String, textCol: String,
                          shingle: Int = 3, threshold: Double = 0.8)
      : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val l = prefixExplode(probe, idCol, textCol, shingle, threshold)
      .select(col(idCol).as("id_a"), col("__n").as("__n_a"),
        col("__th").as("__th_a"), col("__gram"))
    val r = prefixExplode(corpus, idCol, textCol, shingle, threshold)
      .select(col(idCol).as("id_b"), col("__n").as("__n_b"),
        col("__th").as("__th_b"), col("__gram"))
    val cand0 = l.join(r, Seq("__gram"))
      .where(col("__n_a") * threshold <= col("__n_b") + 1e-6 &&
        col("__n_b") * threshold <= col("__n_a") + 1e-6)
      .select(col("id_a"), col("id_b"),
        (col("__th_a") === col("__th_b")).as("__same"))
      .distinct()
    refineCandidatesTwo(cand0,
      probe.select(col(idCol).as("id_a"), col(textCol).as("__text_a")),
      corpus.select(col(idCol).as("id_b"), col(textCol).as("__text_b")),
      shingle, threshold, pin = false)._1
  }

  /**
   * NEAR-duplicate incremental dedup: drop every new-batch doc whose
   * text is a near-duplicate (Jaccard >= threshold) of ANY existing
   * corpus doc — the fuzzy counterpart of [[Decontaminate]]'s exact
   * cross-snapshot dedup, catching lightly-edited recrawls that exact
   * hashing misses. Batch-internal near-dups are NOT removed (dedup the
   * batch itself with [[jaccardDupPairs]] + clusters first if needed).
   */
  def dedupNearAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String,
                             shingle: Int = 3, threshold: Double = 0.8)
      : DataFrame = {
    val dup = jaccardPairsAgainst(newDocs, corpus, idCol, textCol,
      shingle, threshold).select(col("id_a")).distinct()
    newDocs.join(dup, newDocs(idCol) === dup("id_a"), "left_anti")
  }

  /**
   * EXACT directed containment pairs: every ordered pair (a, b), a != b,
   * with n-gram containment C(a→b) = |G(a) ∩ G(b)| / |G(a)| >= threshold
   * — the near-SUBSET detector symmetric Jaccard structurally misses: a
   * 50-word quote inside a 5000-word page has Jaccard ~0.01 but
   * containment ~1.0. This is the excerpt / quotation / page-plus-
   * boilerplate case in a training corpus (reference scope: dedup
   * beyond the geometry surface, SURVEY §6 pipeline ops).
   *
   * Lossless prefix filter (the OVERLAP form of the prefix lemma, as in
   * [[jaccardDupPairs]]): C(a→b) >= t forces an overlap of
   * c_a = ceil(t·|A|) grams, and two sets sorted by one global total
   * order that overlap in >= c elements must collide within their
   * (|X| − c + 1)-prefixes. The probe (contained) side explodes exactly
   * |A| − c_a + 1 prefix grams. The containing side's lossless prefix
   * depends on the PAIR's |A|, so it uses the corpus-wide minimum
   * eligible probe size: c_min = ceil(t·min|A|) (a 1-row broadcast —
   * no driver action). One genuinely tiny probe doc degrades the index
   * prefixes toward full postings, which is CORRECT: a 3-gram quote
   * really can hide anywhere in any document.
   *
   * Plan shape (scales to 100 TB):
   *   1. one narrow gram pass per side (sorted distinct gram hashes),
   *   2. prefix explode — probe ~(1−t)·|A| rows/doc, index
   *      |B| − c_min + 1 rows/doc,
   *   3. shuffle on the 8-byte gram hash, bucketed join with the
   *      NECESSARY length filter |B| >= t·|A| (FP slack only ADMITS),
   *   4. distinct directed candidate pairs (localCheckpoint-pinned so
   *      the two refine branches reuse one band-join run),
   *   5. identical-text pairs (xxhash64 equality carried through the
   *      explode) short-circuit to containment 1.0; the rest re-join
   *      text and exact-refine |A∩B|/|A| with codegen'd array builtins.
   *
   * Returns (id_a, id_b, containment): id_a's grams are >= threshold
   * contained in id_b's. Symmetric near-dups appear in both directions.
   */
  def containmentDupPairs(df: DataFrame, idCol: String, textCol: String,
                          shingle: Int = 3, threshold: Double = 0.8)
      : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    // one row per doc with its sorted distinct gram-hash array,
    // localCheckpoint-pinned: the corpus is tokenized ONCE and the
    // three readers below (min aggregate, probe explode, index
    // explode) all scan the compact materialized arrays. (A shared
    // posexploded frame was measured SLOWER at sf0.1: the probe then
    // pays an index-width scan for its narrow slice.)
    val sized = df.select(col(idCol), xxhash64(col(textCol)).as("__th"),
        array_sort(array_distinct(
          token_ngram_hashes(col(textCol), shingle))).as("__g"))
      .withColumn("__n", size(col("__g")))
      .where(col("__n") >= 1)
      .localCheckpoint(false)
    // needed overlap for THIS row as the contained side; the (1-1e-9)
    // relative nudge keeps FP from rounding the ceil UP — a too-long
    // prefix only adds candidates, a too-short one would lose pairs
    val needA = ceil(col("__n") * threshold * (1.0 - 1e-9)).cast("int")
    val probe = sized.select(col(idCol).as("id_a"), col("__n").as("__n_a"),
      col("__th").as("__th_a"),
      explode(slice(col("__g"), lit(1), col("__n") - needA + 1)).as("__gram"))
    // corpus-wide minimum needed overlap: 1-row aggregate broadcast
    // (same trick as hilbert_pack_stats' total-count join)
    val cmin = sized.agg(
      ceil(min(col("__n")) * threshold * (1.0 - 1e-9)).cast("int").as("__cmin"))
    val index = sized.crossJoin(broadcast(cmin))
      .select(col(idCol).as("id_b"), col("__n").as("__n_b"),
        col("__th").as("__th_b"),
        explode(slice(col("__g"), lit(1),
          col("__n") - col("__cmin") + 1)).as("__gram"))
    // |A∩B| <= |B|, so C >= t forces |B| >= t·|A|; the 1e-6 slack can
    // only admit a boundary pair, which the exact refine then decides
    val cand0 = probe.join(index, Seq("__gram"))
      .where(col("id_a") =!= col("id_b") &&
        col("__n_b") + 1e-6 >= col("__n_a") * threshold)
      .select(col("id_a"), col("id_b"),
        (col("__th_a") === col("__th_b")).as("__same"))
      .distinct()
    val candidates = cand0.localCheckpoint(false)
    val exactDups = candidates.where(col("__same"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("containment"))
    val refined = candidates.where(!col("__same"))
      .join(df.select(col(idCol).as("id_a"), col(textCol).as("__text_a")), "id_a")
      .join(df.select(col(idCol).as("id_b"), col(textCol).as("__text_b")), "id_b")
      .withColumn("__ga", array_distinct(
        token_ngram_hashes(col("__text_a"), shingle)))
      .withColumn("containment",
        size(array_intersect(col("__ga"), array_distinct(
            token_ngram_hashes(col("__text_b"), shingle)))).cast("double")
          / size(col("__ga")))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
    exactDups.unionAll(refined)
  }

  /**
   * EXACT set-cosine (Ochiai) similarity self-join: ALL pairs with
   * cos(A,B) = |A∩B| / sqrt(|A|·|B|) >= threshold over distinct n-gram
   * sets — the cosine counterpart of [[jaccardDupPairs]] (cosine >=
   * Jaccard always, so the same threshold casts a wider near-dup net;
   * it is the binary-weight limit of tf-idf document cosine).
   *
   * The ENTIRE decision procedure is integer arithmetic — no FP
   * boundary anywhere. The threshold is snapped to m/1000
   * (m = round(1000·t)); then
   *   cos >= m/1000  ⟺  10⁶·|A∩B|² >= m²·|A|·|B|        (verify)
   *   and forces      10⁶·|B| >= m²·|A| (and symm.)      (size filter)
   *   and overlap o >= ceil(m²·|A| / 10⁶)                (prefix bound:
   *     o >= t·sqrt(na·nb) and nb >= t²·na give o >= t²·na)
   * so the per-doc prefix length is |S| − ceil(m²·|S|/10⁶) + 1 with an
   * integer ceiling (floorDiv-style), never a nudged FP ceil. Safe for
   * |A|·|B| < 9.2e12 (docs of ~3M distinct grams each) — far past any
   * real document.
   *
   * Plan shape: identical to [[jaccardDupPairs]] (one narrow gram pass,
   * prefix explode, ONE reused gram-keyed exchange feeding both
   * self-join sides, integer length filter in the bucket join, distinct
   * pairs, identical-text fast path, exact array_intersect refine) —
   * the 100 TB shape. Prefixes are ~(1−t²)·|S| rows per doc (vs
   * jaccard's (1−t)·|S| — cosine's looser bound costs proportionally
   * more candidates, the price of the wider net).
   *
   * Returns (id_a, id_b, overlap, n_a, n_b) with id_a < id_b — all
   * integer columns, so a cross-engine oracle hash-matches with zero
   * float formatting concerns. cosine = overlap / sqrt(n_a·n_b) if the
   * caller wants the scalar.
   */
  def cosineDupPairs(df: DataFrame, idCol: String, textCol: String,
                     shingle: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val m = math.round(threshold * 1000).toInt
    val m2 = m.toLong * m                    // <= 1e6
    val sized = df.select(col(idCol), xxhash64(col(textCol)).as("__th"),
        array_sort(array_distinct(
          token_ngram_hashes(col(textCol), shingle))).as("__g"))
      .withColumn("__n", size(col("__g")).cast("long"))
      .where(col("__n") >= 1)
    // integer ceil(m²·n / 1e6) = floorDiv(m²·n + 1e6 − 1, 1e6). The
    // subtraction of the remainder makes the dividend an exact multiple
    // of 1e6, and every quantity stays < 2^53 (n <= 2^31 array size),
    // so the double division is EXACT — an integer ceiling in disguise.
    val num = col("__n") * m2 + lit(999999L)
    val needInt = ((num - num % lit(1000000L)) / lit(1000000L)).cast("int")
    val prefLen = (col("__n").cast("int") - needInt + 1)
    val pref = sized
      .select(col(idCol), col("__n"), col("__th"),
        explode(slice(col("__g"), lit(1), prefLen)).as("__gram"))
      .repartition(col("__gram"))
    val l = pref.select(col(idCol).as("id_a"), col("__n").as("__n_a"),
      col("__th").as("__th_a"), col("__gram"))
    val r = pref.select(col(idCol).as("id_b"), col("__n").as("__n_b"),
      col("__th").as("__th_b"), col("__gram"))
    // exact integer size filter: cos >= m/1000 forces m²·|a| <= 10⁶·|b|
    val cand0 = l.join(r, Seq("__gram"))
      .where(col("id_a") < col("id_b") &&
        col("__n_a") * m2 <= col("__n_b") * 1000000L &&
        col("__n_b") * m2 <= col("__n_a") * 1000000L)
      .select(col("id_a"), col("id_b"), col("__n_a"), col("__n_b"),
        (col("__th_a") === col("__th_b")).as("__same"))
      .distinct()
    val candidates = cand0.localCheckpoint(false)
    // identical text ⇒ identical gram sets ⇒ overlap = n_a = n_b,
    // cosine exactly 1 — never reaches the text re-join
    val exactDups = candidates.where(col("__same"))
      .select(col("id_a"), col("id_b"), col("__n_a").as("overlap"),
        col("__n_a").as("n_a"), col("__n_b").as("n_b"))
    val refined = candidates.where(!col("__same"))
      .select(col("id_a"), col("id_b"), col("__n_a"), col("__n_b"))
      .join(df.select(col(idCol).as("id_a"), col(textCol).as("__text_a")), "id_a")
      .join(df.select(col(idCol).as("id_b"), col(textCol).as("__text_b")), "id_b")
      .withColumn("overlap", size(array_intersect(
        array_distinct(token_ngram_hashes(col("__text_a"), shingle)),
        array_distinct(token_ngram_hashes(col("__text_b"), shingle))))
        .cast("long"))
      .where(col("overlap") * col("overlap") * 1000000L >=
        col("__n_a") * col("__n_b") * m2)
      .select(col("id_a"), col("id_b"), col("overlap"),
        col("__n_a").as("n_a"), col("__n_b").as("n_b"))
    exactDups.unionAll(refined)
  }

  /**
   * SimHash near-dup pairs within a Hamming radius. Banding the 64-bit
   * fingerprint into `chunks` equal pieces guarantees (pigeonhole) that
   * any pair within hamming <= chunks-1 shares at least one exact chunk;
   * the exact Hamming distance is the bit_count(xor) refine.
   */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      ngram: Int = 3, maxHamming: Int = 3): DataFrame =
    fingerprintDupPairs(
      df.select(col(idCol), simhash64(col(textCol), ngram).as("__fp64")),
      idCol, "__fp64", maxHamming)

  /**
   * Near-duplicate pairs over ANY precomputed 64-bit fingerprint column
   * (simhash, image dHash, audio fingerprint …): pigeonhole chunk
   * banding — the hash splits into maxHamming+1 chunks, ≤ maxHamming
   * differing bits leave at least one chunk intact, so an equi-join per
   * chunk finds every pair within the radius — then a bit_count(xor)
   * refine. One signature pass above the band join (ReuseExchange), the
   * LSH shuffle shape at any scale.
   */
  def fingerprintDupPairs(df: DataFrame, idCol: String, fpCol: String,
                          maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val width = 64 / chunks
    val withSim = df.select(col(idCol), col(fpCol).as("__sim"))
    // same ReuseExchange trick as minhashDupPairs: one signature pass,
    // shuffle-join on the chunk key (the 100 TB shape)
    val banded = withSim.select(col(idCol), col("__sim"),
        posexplode(transform(sequence(lit(0), lit(chunks - 1)),
          c => call_function("shiftrightunsigned", col("__sim"), c * width)
            .bitwiseAND(lit((1L << width) - 1)))))
      .withColumnRenamed("pos", "__chunk")
      .withColumnRenamed("col", "__chunkval")
      .repartition(col("__chunk"), col("__chunkval"))
    val l = banded.select(col(idCol).as("id_a"), col("__sim").as("__sim_a"),
      col("__chunk"), col("__chunkval"))
    val r = banded.select(col(idCol).as("id_b"), col("__sim").as("__sim_b"),
      col("__chunk"), col("__chunkval"))
    l.join(r, Seq("__chunk", "__chunkval"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__sim_a").bitwiseXOR(col("__sim_b"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /**
   * Sorted-neighborhood near-duplicate pairs (the record-linkage
   * blocking classic): order the corpus by (simhash64, id) and compare
   * each row only against the next `windowSize` rows in that global
   * order, keeping pairs within `maxHamming` bits. Near-identical
   * fingerprints sort adjacently, so a tiny window catches them without
   * any banding — the complement to [[simhashDupPairs]]'s pigeonhole
   * blocking (which guarantees recall at the radius but pays
   * `maxHamming+1` band joins; the sorted pass pays ONE sort and a
   * linear O(n·w) candidate set, trading guaranteed recall for
   * prefix-locality recall).
   *
   * Scale shape: the global order comes from [[graft.tools.Ranks]]'s
   * two-pass range-partitioned rank (no single-task window anywhere);
   * candidates are an equi-join of the slim (rank, id, fp) projection
   * against itself on `rank + offset` — offsets explode only the probe
   * side by `windowSize` (w is 3-10 in practice), and the join keys are
   * dense longs. Nothing but 16-byte rows ever shuffles.
   */
  def sortedNeighborPairs(df: DataFrame, idCol: String, textCol: String,
                          ngram: Int = 3, windowSize: Int = 4,
                          maxHamming: Int = 3,
                          numPartitions: Int = 32): DataFrame = {
    val (pairs, release) = sortedNeighborPairsWithRelease(df, idCol, textCol,
      ngram, windowSize, maxHamming, numPartitions)
    // materialize before dropping the rank cache the plan depends on
    val out = pairs.localCheckpoint(true)
    release()
    out
  }

  /** [[sortedNeighborPairs]] as a lazy frame + unpersist handle (the
    * minhashDupPairsWithRelease convention): call `release()` only
    * after consuming the result. */
  def sortedNeighborPairsWithRelease(df: DataFrame, idCol: String,
                                     textCol: String, ngram: Int = 3,
                                     windowSize: Int = 4, maxHamming: Int = 3,
                                     numPartitions: Int = 32)
      : (DataFrame, () => Unit) = {
    val fps = df.select(col(idCol), simhash64(col(textCol), ngram).as("__fp"))
    val (ranked, release) = graft.tools.Ranks.globalRowNumberWithRelease(
      fps, "__rn", numPartitions, col("__fp"), col(idCol))
    val slim = ranked.select(col("__rn"), col(idCol), col("__fp"))
    val probe = slim
      .select(col(idCol).as("id_a"), col("__fp").as("__fp_a"),
        explode(sequence(col("__rn") + 1, col("__rn") + windowSize)).as("__rn"))
    val cand = slim
      .select(col("__rn"), col(idCol).as("id_b"), col("__fp").as("__fp_b"))
    val pairs = probe.join(cand, "__rn")
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        bit_count(col("__fp_a").bitwiseXOR(col("__fp_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      // a pair can meet at several offsets only if fingerprints repeat
      // in the overlap window; one row per pair either way
      .distinct()
    (pairs, release)
  }

  /**
   * Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
   * algorithm): the minimum gram hash of every `window` consecutive
   * token-`ngram` hashes, deduplicated per document. The selection
   * guarantee: any two documents sharing a run of at least
   * `window + ngram - 1` tokens share at least one fingerprint — the
   * position-robust sampling that plain every-Nth gram sampling lacks.
   * Density is ~2/(window+1) of all grams.
   *
   * A NARROW one-pass plan: fused gram hashing, per-row window minima
   * over the hash array, distinct + explode — no shuffle at any size.
   * (Pair generation over the fingerprints is then a plain equi-join on
   * `fp`, the same shape as the other gram-keyed dedup paths.)
   */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            ngram: Int = 4, window: Int = 4,
                            seed: Long = 42L): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val withGh = df.select(col(idCol),
      token_ngram_hashes(col(textCol), ngram, seed).as("__gh"))
    val wins = when(size(col("__gh")) >= window,
        array_distinct(transform(
          sequence(lit(0), size(col("__gh")) - window),
          i => array_min(slice(col("__gh"), i + 1, lit(window))))))
      .otherwise(when(size(col("__gh")) > 0, array(array_min(col("__gh"))))
        .otherwise(array().cast("array<bigint>")))
    withGh.select(col(idCol), explode(wins).as("fp"))
  }

  /** Embedding near-duplicate pairs: SRP-LSH bucket join + cosine refine.
    * Same LSH shape as minhash (shuffle on bucket bits). */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.95, bandsSeeds: Seq[Long] = Seq(1L, 2L, 3L, 4L),
                        bits: Int = 16): DataFrame = {
    val withBits = df.select(col(idCol),
      array(bandsSeeds.map(s => Tx.srp_bits(col(vecCol), bits, s)): _*).as("__bkts"))
    // Bucket join carries ONLY ids — vectors are joined back for the
    // refine (same shape as minhashDupPairs's text re-join). Shuffling
    // (id, band, bucket) is bands x 24 bytes/row; shuffling the vectors
    // themselves would be bands x the whole corpus. The repartition on
    // the bucket key makes both self-join inputs share one exchange
    // (ReuseExchange), so the SRP pass runs once.
    val banded = withBits.select(col(idCol), posexplode(col("__bkts")))
      .withColumnRenamed("pos", "__band")
      .withColumnRenamed("col", "__bucket")
      .repartition(col("__band"), col("__bucket"))
    val l = banded.withColumnRenamed(idCol, "id_a")
    val r = banded.withColumnRenamed(idCol, "id_b")
    val candidates = l.join(r, Seq("__band", "__bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("__v_a"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("__v_b"))
    candidates.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", Tx.cosine_similarity(col("__v_a"), col("__v_b")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /**
   * Semantic dedup, SemDeDup-shape (cluster the embedding space, prune
   * near-duplicates WITHIN each cluster): assign every vector to its
   * nearest of `nlist` centroids (broadcast literals — narrow, no
   * shuffle), self-join within the cell on cosine >= `threshold`, and
   * greedily drop every vector similar to a smaller-id survivor (the
   * keep-lowest-id convention of [[exact]]). Returns surviving rows.
   *
   * Scale shape: the only shuffle is keyed on the cell id; within-cell
   * pairing is O(cell²) bounded by corpus/nlist on balanced data — size
   * `nlist` so cells fit the quadratic budget, exactly like the IVF
   * search path whose assignment step this reuses. Identical vectors
   * always share a cell (argmax of identical scores), so exact
   * duplicates can never escape the prune by landing apart.
   *
   * vs [[embeddingDupPairs]]: SRP-LSH surfaces PAIRS above a threshold
   * anywhere in space (recall grows with bands); semanticDedup PRUNES
   * within semantic clusters — the SemDeDup curation recipe, where
   * "what stays" is one representative per tight group per cluster.
   */
  /** nlist = 0 derives the cell count from the corpus: ceil(n /
    * targetCellSize) cells keep the within-cell O(cell²) self-join
    * bounded at ~targetCellSize² pairs per cell REGARDLESS of corpus
    * size — the density knob a 10x scale-up would otherwise have to
    * retune by hand (the semantic twin of SpatialJoin.autoCellSize).
    * Costs one count() when auto. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 16, threshold: Double = 0.99,
                    refineIters: Int = 0,
                    targetCellSize: Int = 256): DataFrame = {
    require((nlist == 0 || nlist >= 2) && threshold > 0 && threshold <= 1)
    require(targetCellSize >= 1, "targetCellSize must be >= 1")
    val clean = df.where(col(idCol).isNotNull && col(vecCol).isNotNull)
    // auto nlist is capped: beyond the cap the centroid literal in the
    // plan (and the driver-collected sample) stops being "bounded small
    // state". At the cap, cells grow linearly with corpus instead —
    // the documented O(cell²) budget degrades gracefully rather than
    // the plan exploding. 4096 centroids × 256-target ≈ 1M rows before
    // any degradation; past ArgmaxUnrollLimit the assignment switches
    // to the array-fold argmax so plan size stays O(1) in nlist.
    val effNlist =
      if (nlist > 0) nlist
      else math.min(4096, math.max(2,
        math.ceil(clean.count().toDouble / targetCellSize).toInt))
    val cents: Array[Seq[Double]] = {
      val init = Similarity.sampleCentroids(clean, idCol, vecCol, effNlist)
      if (refineIters > 0) Similarity.kmeansCentroids(clean, vecCol, init, refineIters)
      else init
    }
    val assigned = clean.select(col(idCol), col(vecCol)).withColumn("__cell",
        Similarity.cellAssign(cents, col(vecCol)))
      .repartition(col("__cell")) // ONE exchange feeds both self-join sides
    val l = assigned.select(col("__cell"), col(idCol).as("__id_a"),
      col(vecCol).as("__v_a"))
    val r = assigned.select(col("__cell"), col(idCol).as("__id_b"),
      col(vecCol).as("__v_b"))
    val losers = l.join(r, Seq("__cell"))
      .where(col("__id_a") < col("__id_b") &&
        Tx.cosine_similarity(col("__v_a"), col("__v_b")) >= threshold)
      .select(col("__id_b").as(idCol))
      .distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * Connected components over an undirected edge list, the step that
   * turns near-dup PAIRS into dedupable CLUSTERS (a~b and b~c must
   * collapse to one survivor, not two): every node incident to an edge
   * gets the MINIMUM id reachable from it. Alternating LARGE-STAR /
   * SMALL-STAR transforms (Kiveris et al., "Connected Components in
   * MapReduce and Beyond", SoCC 2014) converge in O(log n) rounds on ANY
   * graph, a long chain included:
   *
   *   large-star: every node u re-attaches its LARGER neighbors to
   *     m = min(N(u) ∪ {u});
   *   small-star: every node u (edges canonicalized smaller<-larger)
   *     re-attaches its smaller neighbors AND itself to their minimum;
   *   contraction: a union-find over each partition's small-star output
   *     re-attaches every node to the minimum of its component within
   *     that partition (a narrow `mapPartitions`, see [[contractPartition]]).
   *
   * A round is one localCheckpoint job over two keyed exchanges (3 Spark
   * jobs under AQE: two shuffle stages and the result stage). Each star
   * takes its per-center minimum with a window, `min(__v) over
   * partitionBy(__u)`, on the exchanged rows instead of a groupBy joined
   * back, so no join and no broadcast. The window buffer spills, so a hub
   * of very high degree costs only its edge rows, never a collected
   * neighborhood. Large-star's exchange on the center also deduplicates
   * the symmetric edges for free (hash(__u) already clusters (__u, __v)).
   * The contraction holds one `LongMap` entry per distinct id of its
   * partition (plus one per self row), so a round's task memory is
   * linear in the ids of its partition.
   *
   * One check before round 1 and two stop rules, all read without a job:
   *   - before round 1, when the null-filtered, cast edge plan is no
   *     larger than what AQE would coalesce into one partition
   *     ([[graft.tools.Partitions.fitOne]]: AQE and its coalescing on,
   *     plan stats within the session's own size limit), the rounds are
   *     skipped: the non-loop edges are coalesced into one task whose
   *     union-find emits every id with its root, (root, root) included.
   *     That is the first stop rule below, decided from plan statistics
   *     before the first round instead of after it. One job, described
   *     "connectedComponentsStar: one partition";
   *   - the round's checkpoint has one partition (AQE coalesced the small
   *     input): its union-find saw every edge, so its output already is
   *     the label set;
   *   - otherwise the convergence probe, an [[Observation]] on large-star's
   *     window in the same job: the number of nodes with a smaller neighbor
   *     and degree > 1. It is zero exactly when the round's INPUT is a
   *     forest of stars centered on their minima, the fixpoint. The round
   *     that finds it reproduces that forest unchanged (the contraction
   *     is the identity on it), so it is the confirming round that a test
   *     comparing consecutive edge sets also pays.
   *
   * Every round also emits one self row (r, r) per local minimum r; the
   * next round drops it before the stars. At either stop the output is
   * then exactly {(leaf, root)} ∪ {(root, root)}: the labels, with no
   * further job. Returns (id, component) as a projection of that
   * checkpoint, the only one still persisted: each round releases the
   * previous round's checkpoint (never the caller's input) once its own
   * is written. Round jobs carry the description
   * "connectedComponentsStar: round <k>"; the caller's description is
   * restored on return. Throws IllegalStateException when `maxIters`
   * rounds pass without reaching the fixpoint, rather than return split
   * components. The handle releases the returned frame's checkpoint;
   * call it only once the frame is consumed.
   */
  def connectedComponentsStarWithRelease(edges: DataFrame, aCol: String, bCol: String,
                                         maxIters: Int = 50): (DataFrame, () => Unit) = {
    val (u, v) = (col("__u"), col("__v"))
    val byCenter = Window.partitionBy(u)
    def edge(a: Column, b: Column): Column = struct(a.as("__u"), b.as("__v"))
    def round(e: DataFrame, probe: Observation): DataFrame = {
      val large = e.where(u =!= v)
        .select(inline(array(edge(u, v), edge(v, u))))
        .repartition(u).distinct()
        .select(u, v, min(v).over(byCenter).as("__n"), count(lit(1)).over(byCenter).as("__deg"))
        .observe(probe, count_if(v === col("__n") && col("__n") < u && col("__deg") > 1)
          .as("unfinished"))
      // (v, m) for every larger neighbor v; (u, u) once for a local minimum
      val m = least(u, col("__n"))
      val root = v === col("__n") && col("__n") > u
      val small = large
        .select(inline(array(edge(when(v > u, v), m), edge(when(root, u), u))))
        .where(u.isNotNull)
        .select(greatest(u, v).as("__u"), least(u, v).as("__v"))
        .repartition(u)
        .withColumn("__m", min(v).over(byCenter))
      // every smaller neighbor to the minimum; the minimum's own row
      // re-attaches the center (and passes a self row through)
      small.select(when(v === col("__m"), u).otherwise(v).as("__u"), col("__m").as("__v"))
        .as(idPairs).mapPartitions(contractPartition(_))(idPairs).toDF("__u", "__v")
    }
    // the RDD a localCheckpoint wrote, read from its plan without a job
    def written(checkpoint: DataFrame): RDD[_] = checkpoint.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
    }

    var e = edges.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("long").as("__u"), col(bCol).cast("long").as("__v"))
    var previous: Option[RDD[_]] = None
    var unfinished = 1L
    if (Partitions.fitOne(e))
      describedAs(edges.sparkSession, "connectedComponentsStar: one partition") {
        e = e.where(u =!= v).coalesce(1).as(idPairs)
          .mapPartitions(contractPartition(_, allRoots = true))(idPairs).toDF("__u", "__v")
          .localCheckpoint(true)
        previous = Some(written(e))
        unfinished = 0L
      }
    var i = 0
    while (unfinished > 0) {
      if (i == maxIters) throw new IllegalStateException(
        s"connectedComponentsStar: no fixpoint after $maxIters rounds " +
          s"(${e.count()} edges left); raise maxIters")
      i += 1
      describedAs(edges.sparkSession, s"connectedComponentsStar: round $i") {
        val probe = Observation()
        e = round(e, probe).localCheckpoint(true)
        val rdd = written(e)
        previous.foreach(Bridge.releaseCheckpoint)
        previous = Some(rdd)
        // one partition: its union-find saw every edge, e is the label set.
        // No metric when the optimizer proved the round's input empty and
        // pruned the probe's subtree: nothing is unfinished then
        unfinished = if (rdd.getNumPartitions <= 1) 0L
          else probe.get.getOrElse("unfinished", 0L).asInstanceOf[Long]
      }
    }
    val last = previous
    (e.select(u.as("id"), v.as("component")), () => last.foreach(Bridge.releaseCheckpoint))
  }

  /** [[connectedComponentsStarWithRelease]] without the release handle:
    * the last checkpoint stays until the ContextCleaner reclaims it. */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
                              maxIters: Int = 50): DataFrame =
    connectedComponentsStarWithRelease(edges, aCol, bCol, maxIters)._1

  private val idPairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /**
   * The contraction at the tail of a [[connectedComponentsStar]] round: a
   * union-find (union by minimum, path halving) over one partition's
   * edges. Emits (x, r) for every node x that is not the minimum r of its
   * component within the partition, and the self row (r, r) only when
   * the input carried it, so a round whose input is a star forest
   * reproduces it without duplicate roots. With `allRoots` it emits
   * (r, r) for every minimum as well: the label set of a partition that
   * holds every edge. Holds one `LongMap` entry per distinct id of the
   * partition plus one per self row. The output is emitted in id order,
   * so it depends only on the multiset of input rows and a retried task
   * writes the same edges.
   */
  private def contractPartition(rows: Iterator[(Long, Long)],
                                allRoots: Boolean = false): Iterator[(Long, Long)] = {
    val parent = new mutable.LongMap[Long]()
    val selfRows = new mutable.LongMap[Unit]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElseUpdate(x, x)
      while (p != x) {
        val g = parent(p)
        parent(x) = g
        x = g
        p = parent(x)
      }
      x
    }
    rows.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      else if (a == b) selfRows(a) = ()
    }
    val ids = parent.keys.toArray
    java.util.Arrays.sort(ids)
    ids.iterator.map(x => (x, find(x)))
      .filter { case (x, r) => allRoots || x != r || selfRows.contains(x) }
  }

  /**
   * Near-duplicate CLUSTER dedup end-to-end: minhash-LSH candidate
   * pairs -> exact-Jaccard refine -> [[connectedComponentsStar]] -> keep
   * the minimum-id document of every cluster (docs in no cluster survive
   * untouched). Returns the surviving rows of `df`. The component labels
   * are the checkpoint connected components ends in, so the pair cache is
   * released before return and the losers are a narrow projection of
   * that checkpoint.
   */
  def dedupNearClusters(df: DataFrame, idCol: String, textCol: String,
                        shingle: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    val (pairs, releasePairs) = minhashDupPairsWithRelease(df, idCol,
      textCol, shingle, numHashes, bands, threshold)
    val comps = connectedComponentsStar(pairs, "id_a", "id_b")
    releasePairs() // the CC rounds are checkpointed; pairs are consumed
    val losers = comps.where(col("id") =!= col("component")).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * [[dedupNearClusters]] with QUALITY-AWARE survivor selection: per
   * near-dup cluster keep the row maximizing `score` (ties break to
   * the minimum id) instead of the minimum id — the production rule
   * ("of these 40 mirrors, keep the longest / highest-quality copy",
   * not "keep whichever crawled first").
   *
   * Cost over the min-id variant: one extra score projection and one
   * component-keyed window (row_number over clusters — cluster-sized
   * groups, skew bounded by the largest near-dup cluster, the same
   * bound the CC labels already carry). Docs in no cluster survive
   * untouched.
   */
  def dedupNearClustersKeepBest(df: DataFrame, idCol: String, textCol: String,
                                score: org.apache.spark.sql.Column,
                                shingle: Int = 3, numHashes: Int = 64,
                                bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    val (pairs, releasePairs) = minhashDupPairsWithRelease(df, idCol,
      textCol, shingle, numHashes, bands, threshold)
    val comps = connectedComponentsStar(pairs, "id_a", "id_b")
    releasePairs()
    val scored = df.select(col(idCol).as("id"), score.as("__score"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("__score").desc, col("id").asc)
    val losers = comps.join(scored, "id")
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") > 1)
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * Incremental (cross-snapshot) exact dedup: drop every `newDocs` row
   * whose text already appears in the `corpus` snapshot — the "dedup
   * this month's crawl against everything we already have" step.
   * Matching is on the 8-byte xxhash64 of the text (a collision can only
   * over-drop, probability ~|corpus|/2⁶⁴); compose with
   * [[Scrub.normalize]] upstream for normalization-invariant matching.
   *
   * Plan: one distinct + one left_anti hash join on 8-byte keys — the
   * corpus ships (hash) only, never its text. Correct but
   * corpus-shuffle-bound at scale; see [[againstCorpusBloom]].
   */
  def againstCorpus(newDocs: DataFrame, corpus: DataFrame,
                    textCol: String): DataFrame = {
    val seen = corpus.select(xxhash64(col(textCol)).as("__h")).distinct()
    newDocs.withColumn("__h", xxhash64(col(textCol)))
      .join(seen, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /**
   * [[againstCorpus]] with a Bloom-filter pre-split — IDENTICAL results
   * (no false negatives: every true duplicate still reaches the exact
   * join; false positives are cleared by it).
   *
   * The corpus hash set folds into a Bloom filter DISTRIBUTEDLY
   * ([[graft.functions.LongBloom.buildDistributed]] — the driver
   * receives filter-sized bit arrays, never keys). New-batch rows whose
   * hash the filter rejects are duplicates of nothing and bypass the
   * join entirely; only the ~(dup_rate + fpp) fraction enters the exact
   * anti-join. That confirm join still scans the corpus hashes, but its
   * probe side is now tiny — at 16 bits/item the non-duplicate traffic
   * entering it is ~0.04% of the batch instead of 100%.
   */
  def againstCorpusBloom(newDocs: DataFrame, corpus: DataFrame,
                         textCol: String,
                         bitsPerItem: Int = 16): DataFrame = {
    val corpusHashes = corpus.select(xxhash64(col(textCol)).as("__h"))
    val (bits, k) = LongBloom.buildDistributed(corpusHashes, bitsPerItem)
    val hashed = newDocs.withColumn("__h", xxhash64(col(textCol)))
    val mightMatch = Bridge.column(BloomMightContain(
      Bridge.expression(col("__h")), new BloomBitsRef(bits), k))
    val cols = hashed.columns.map(col)
    val clean = hashed.where(!mightMatch)
    // the USING-key join reorders __h to the front: realign by name
    // before the positional union
    val confirmed = hashed.where(mightMatch)
      .join(corpusHashes.distinct(), Seq("__h"), "left_anti")
      .select(cols: _*)
    clean.unionAll(confirmed).drop("__h")
  }

  /**
   * Persist a corpus snapshot bucketed+sorted on its content hash — the
   * sort-merge-bucket layout for RECURRING cross-snapshot dedup: every
   * future [[againstCorpusBucketed]] probe shuffles ONLY the new batch;
   * the (huge, static) corpus reads pre-distributed by its buckets and
   * never exchanges again. The text-pipeline twin of
   * `SpatialJoin.saveGeomsBucketedByCell`.
   */
  def saveCorpusBucketedByHash(corpus: DataFrame, byCol: String,
                               table: String, numBuckets: Int): Unit = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    require(!corpus.columns.contains("__h"),
      "input columns collide with reserved name __h")
    graft.tools.Warehouse.resetManagedTable(corpus.sparkSession, table)
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("graft.dedupHashOf", byCol).build()
    corpus.withColumn("__h", xxhash64(col(byCol)))
      .withMetadata("__h", meta)
      .write.format("parquet")
      .bucketBy(numBuckets, "__h")
      .sortBy("__h")
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** Probe a [[saveCorpusBucketedByHash]] table: anti-join the new batch
    * against the stored hashes with the corpus side distributed by its
    * buckets — the join plan carries exactly ONE exchange (the batch). */
  def againstCorpusBucketed(newDocs: DataFrame, table: String,
                            byCol: String): DataFrame = {
    require(!newDocs.columns.contains("__h"),
      "input columns collide with reserved name __h")
    val corpus = newDocs.sparkSession.table(table)
    val hField = corpus.schema(corpus.schema.fieldIndex("__h"))
    require(hField.metadata.contains("graft.dedupHashOf"),
      s"$table was not written by saveCorpusBucketedByHash")
    // a null key never equi-matches, so null-text rows survive — the
    // same semantics as againstCorpus's anti-join
    newDocs.join(corpus.select(col("__h")),
      xxhash64(col(byCol)) === col("__h"), "left_anti")
  }
}

object Similarity {
  import Tx._

  /**
   * Brute-force cosine top-k: every (query, corpus) pair scored, window
   * top-k per query. The BASELINE path — exact, O(|Q| * |C|); correct
   * use at scale is a broadcast of the (small) query set, which Catalyst
   * picks automatically when `queries` is under the broadcast threshold.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     corpusId: String, corpusVec: String,
                     queryId: String, queryVec: String, k: Int,
                     roundDigits: Int = -1): DataFrame = {
    // roundDigits >= 0 rounds the score BEFORE ranking: makes the ranking
    // reproducible across engines whose float association differs by ulps
    val cos = cosine_similarity(col(queryVec), col(corpusVec))
    val scored = queries.crossJoin(corpus)
      .withColumn("cosine", if (roundDigits >= 0) round(cos, roundDigits) else cos)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("rank"))
  }

  /**
   * IVF-flat ANN (the other scale path, alongside [[srpTopK]]): partition
   * the corpus into `nlist` Voronoi cells around centroids, probe only
   * the `nprobe` nearest cells per query.
   *
   * Centroids are a deterministic hash-ordered sample of the corpus
   * (IVF quality depends mostly on cell balance, not centroid
   * optimality; a k-means refinement can be layered on the same plan).
   * Plan shape at scale: centroids broadcast everywhere (nlist rows);
   * corpus assignment is one narrow pass (broadcast join + max_by — no
   * corpus shuffle); candidate generation shuffles on cell id only.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              corpusId: String, corpusVec: String,
              queryId: String, queryVec: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              refineIters: Int = 0, roundDigits: Int = -1): DataFrame = {
    require(nlist >= 2 && nprobe >= 1 && nprobe <= nlist)
    val centVecs: Array[Seq[Double]] = {
      val init = sampleCentroids(corpus, corpusId, corpusVec, nlist)
      if (refineIters > 0)
        kmeansCentroids(corpus, corpusVec, init, refineIters)
      else init
    }

    // per-cell (similarity, cell) structs against the literal centroids —
    // a narrow, codegen'd projection; no shuffle, no row blowup
    def cellScores(vec: Column): Seq[Column] = cellScoreCols(centVecs, vec)

    // corpus assignment: argmax cell per vector (greatest = lexicographic
    // on (sim, cell) — ties break to the higher cell, deterministically)
    val assigned = corpus.withColumn("__cell",
      greatest(cellScores(col(corpusVec)): _*).getField("cell"))

    // queries probe their nprobe nearest cells
    val probes = queries.withColumn("__probe",
        explode(slice(reverse(array_sort(array(cellScores(col(queryVec)): _*))),
          1, nprobe)))
      .select(col(queryId), col(queryVec), col("__probe.cell").as("__cell"))

    // candidate join shuffles on cell id only; exact cosine + top-k after.
    // roundDigits >= 0 rounds before ranking (cross-engine tie parity —
    // same contract as bruteForceTopK); with nprobe = nlist every
    // (query, corpus) pair is scored exactly once, so the result
    // DEGENERATES to brute force and shares its oracle.
    val cos = cosine_similarity(col(queryVec), col(corpusVec))
    val scored = probes.join(assigned, Seq("__cell"))
      .withColumn("cosine", if (roundDigits >= 0) round(cos, roundDigits) else cos)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("rank"))
  }

  /**
   * Product-quantization ANN (asymmetric distance computation) — the
   * memory-bound scale path: the corpus is compressed to `m` sub-codes
   * (one per vector subspace), and candidate scoring touches ONLY those
   * codes via per-query lookup tables; raw corpus vectors appear once at
   * encode time and once for the final exact refine of a small
   * candidate set.
   *
   *  - train: per subspace, k-means (`ksub` centroids) over the sliced
   *    corpus — reusing [[kmeansCentroids]]; the full codebook is
   *    m*ksub short vectors of driver state (like the IVF centroids).
   *  - encode: one narrow projection computes each vector's nearest
   *    sub-centroid per subspace (min reconstruction L2 ==
   *    max(dot - |c|²/2)) -> an `array<long>` code column. At scale this
   *    column is what you persist: 8 longs instead of a 768-float
   *    vector, and NOTHING else ever shuffles.
   *  - search: per query, an m x ksub dot-product lookup table is one
   *    projection over codebook literals; each candidate's approximate
   *    cosine = sum of m table lookups / (|q| * reconstructed-|x|),
   *    where the reconstructed norms come from a query-independent
   *    literal table. Approximate top `refineFactor * k` per query, then
   *    exact cosine refine to the final k — the standard ADC + refine.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             corpusId: String, corpusVec: String,
             queryId: String, queryVec: String, k: Int,
             m: Int = 8, ksub: Int = 16, trainIters: Int = 2,
             refineFactor: Int = 4, roundDigits: Int = -1): DataFrame = {
    require(m >= 1 && ksub >= 2 && refineFactor >= 1)
    val firstVec = corpus.select(size(col(corpusVec)))
      .where(col(corpusVec).isNotNull).take(1)
    require(firstVec.nonEmpty, "pqTopK: corpus has no non-null vectors")
    val dim = firstVec(0).getInt(0)
    require(dim % m == 0, s"vector dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m

    def sub(vec: Column, i: Int): Column =
      slice(vec.cast("array<double>"), i * dsub + 1, dsub)

    // train: ALL subspace codebooks together — one job for the sampled
    // init (slice the same ksub sampled vectors per subspace) and ONE
    // corpus pass per Lloyd iteration (assign every subspace's code in a
    // narrow projection, posexplode to (subspace, code, subvec), a
    // single keyed aggregate). Per-subspace training would cost
    // m*(1+iters) driver jobs; this costs 1+iters.
    val codebook: Array[Array[Seq[Double]]] = {
      val sampled = sampleCentroids(
        corpus.where(col(corpusVec).isNotNull), corpusId, corpusVec, ksub)
      var cents: Array[Array[Seq[Double]]] = (0 until m).toArray.map(i =>
        sampled.map(v => v.slice(i * dsub, (i + 1) * dsub)))
      for (_ <- 0 until trainIters) {
        val cbSeq: Seq[Seq[Seq[Double]]] = cents.toSeq.map(_.toSeq)
        val stats = corpus.where(col(corpusVec).isNotNull)
          .withColumn("__codes", Tx.pq_encode(col(corpusVec), cbSeq))
          .select(posexplode(array((0 until m).map(i =>
            struct(sub(col(corpusVec), i).as("v"),
              element_at(col("__codes"), i + 1).as("c"))): _*)))
          .select(col("pos").as("__m"), col("col.c").as("__code"),
            col("col.v").as("__v"))
          .groupBy(col("__m"), col("__code"))
          .agg(Tx.vector_sum(col("__v")).as("__sum"), count(lit(1)).as("__n"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1).toInt) ->
            ((Option(r.getSeq[Double](2)), r.getLong(3))))
          .toMap
        cents = cents.zipWithIndex.map { case (subCents, i) =>
          subCents.zipWithIndex.map { case (old, j) =>
            stats.get((i, j)) match {
              case Some((Some(s), n)) if n > 0 => s.map(_ / n)
              case _ => old
            }
          }
        }
      }
      cents
    }

    // encode: nearest sub-centroid per subspace, by reconstruction L2 —
    // a single fused expression (expression-forest argmax per centroid
    // would bloat codegen compile time with m*ksub nodes)
    val cbSeq: Seq[Seq[Seq[Double]]] = codebook.toSeq.map(_.toSeq)
    val encoded = corpus.where(col(corpusVec).isNotNull)
      .select(col(corpusId), Tx.pq_encode(col(corpusVec), cbSeq).as("__codes"))

    // reconstructed squared norms per (subspace, code) — query-independent
    val normTable: Seq[Seq[Double]] =
      codebook.toSeq.map(_.toSeq.map(c => c.map(x => x * x).sum))

    // per-query LUT of sub-dot-products against every sub-centroid
    val lut = Tx.pq_lut(col(queryVec), cbSeq)
    val qNorm = sqrt(Tx.dot_product(col(queryVec).cast("array<double>"),
      col(queryVec).cast("array<double>")))
    val q = queries.where(col(queryVec).isNotNull)
      .select(col(queryId), col(queryVec), lut.as("__lut"), qNorm.as("__qn"))

    // ADC scoring over codes only (m O(1) lookups per pair)
    def lookups(table: Column): Column =
      (0 until m).map(i =>
        element_at(element_at(table, i + 1),
          (element_at(col("__codes"), i + 1) + 1).cast("int"))
      ).reduce(_ + _)
    val approx = q.crossJoin(encoded)
      .withColumn("__adc", lookups(col("__lut")))
      .withColumn("__xn", sqrt(lookups(typedLit(normTable))))
      .withColumn("__score",
        when(col("__qn") > 0 && col("__xn") > 0,
          col("__adc") / (col("__qn") * col("__xn"))).otherwise(lit(0.0)))
    val wApprox = Window.partitionBy(col(queryId))
      .orderBy(col("__score").desc, col(corpusId))
    val candidates = approx
      .withColumn("__arank", row_number().over(wApprox))
      .where(col("__arank") <= k.toLong * refineFactor) // long: no Int overflow
      .select(col(queryId), col(corpusId))

    // exact refine of the small candidate set. roundDigits >= 0 rounds
    // before ranking (cross-engine tie parity); with refineFactor big
    // enough that k*refineFactor >= |corpus| the refine set is the whole
    // corpus and the result DEGENERATES to brute force (shared oracle).
    val cos = cosine_similarity(col(queryVec), col(corpusVec))
    val scored = candidates
      .join(queries.select(col(queryId), col(queryVec)), queryId)
      .join(corpus.select(col(corpusId), col(corpusVec)), corpusId)
      .withColumn("cosine", if (roundDigits >= 0) round(cos, roundDigits) else cos)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("rank"))
  }

  /** Deterministic hash-ordered sample of `nlist` corpus vectors — the
    * only collected state (analogous to the sidecar tables). */
  private[pipeline] def sampleCentroids(corpus: DataFrame, corpusId: String,
                              corpusVec: String, nlist: Int): Array[Seq[Double]] = {
    // integral ids hash through mix64 (not Spark's Murmur3 hash()) so
    // the hash ORDER — and hence the centroid choice — is replayable
    // by an independent engine in exact mod-2⁶⁴ arithmetic (the
    // ann_ivf_topk DuckDB oracle does); non-integral ids (uuids etc.)
    // keep a deterministic sample via xxhash64 — casting those to long
    // would throw under ANSI or null out and bias the sample
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val h = corpus.schema(corpusId).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        pmod(Tx.mix64_hash(col(corpusId).cast("long")), lit(1000003L))
      case _ => pmod(xxhash64(col(corpusId)), lit(1000003L))
    }
    corpus
      .withColumn("__h", h)
      .orderBy(col("__h"), col(corpusId))
      .limit(nlist)
      .select(col(corpusVec).cast("array<double>"))
      .collect().map(_.getSeq[Double](0))
  }

  /** Nearest-centroid cell id via a single array fold — the O(1)-column
    * twin of the [[cellScoreCols]] + greatest() path for LARGE centroid
    * counts, where one greatest() over thousands of struct columns
    * blows up codegen/analysis long before the data does. Same
    * contract: scores round to 12 digits before comparison, exact ties
    * break toward the LARGER cell id (matching struct-greatest's
    * lexicographic tie-break), so both paths assign identical cells. */
  private[pipeline] def cellArgmaxFold(cents: Array[Seq[Double]], vec: Column): Column =
    aggregate(
      typedLit(cents.map(_.toSeq).toSeq),
      struct(lit(0L).as("i"), lit(-1L).as("cell"),
        lit(null).cast("double").as("s")),
      (acc, cv) => {
        val s = round(cosine_similarity(vec, cv), 12)
        val better = acc("s").isNull || s >= acc("s")
        struct(
          (acc("i") + 1L).as("i"),
          when(better, acc("i")).otherwise(acc("cell")).as("cell"),
          when(better, s).otherwise(acc("s")).as("s"))
      },
      acc => acc("cell"))

  /** Column-count guard: up to this many centroids the unrolled
    * greatest(struct…) argmax is used (widest codegen span); beyond it
    * the [[cellArgmaxFold]] array fold keeps plan size O(1) in nlist. */
  private[pipeline] val ArgmaxUnrollLimit = 256

  /** Cell assignment choosing the unrolled or folded argmax by centroid
    * count — both produce identical cells (see [[cellArgmaxFold]]). */
  private[pipeline] def cellAssign(cents: Array[Seq[Double]], vec: Column): Column =
    if (cents.length <= ArgmaxUnrollLimit)
      greatest(cellScoreCols(cents, vec): _*).getField("cell")
    else cellArgmaxFold(cents, vec)

  private[pipeline] def cellScoreCols(cents: Array[Seq[Double]], vec: Column): Seq[Column] =
    // scores round to 12 digits BEFORE the struct argmax: two engines'
    // float association differs by ~1 ulp, so a raw comparison is
    // unstable whenever two cells score within ~1e-15 — rounding turns
    // every near-tie (within 1e-12) into an EXACT tie both engines
    // break identically on the cell id (same contract as the rounded
    // cosine refine in the top-k rankings)
    cents.toSeq.zipWithIndex.map { case (cv, i) =>
      struct(round(cosine_similarity(vec, typedLit(cv)), 12).as("s"),
        lit(i.toLong).as("cell"))
    }

  /**
   * Lloyd refinement of IVF centroids: per iteration, assign each corpus
   * vector to its nearest centroid (narrow argmax projection against
   * broadcast literals — no shuffle) and recompute means with the
   * [[Tx.vector_sum]] aggregate (ONE keyed shuffle, k rows collected).
   * Cells that lose all members keep their previous centroid. Cost per
   * iteration = one corpus pass — the same shape at any corpus size.
   */
  def kmeansCentroids(corpus: DataFrame, corpusVec: String,
                      init: Array[Seq[Double]], iters: Int): Array[Seq[Double]] = {
    var cents = init
    for (_ <- 0 until iters) {
      val assigned = corpus.withColumn("__cell",
        cellAssign(cents, col(corpusVec)))
      val stats = assigned.groupBy(col("__cell"))
        .agg(vector_sum(col(corpusVec).cast("array<double>")).as("__sum"),
          count(col(corpusVec)).as("__n")) // non-null vectors only
        .collect()
        .map(r => r.getLong(0).toInt -> ((Option(r.getSeq[Double](1)), r.getLong(2))))
        .toMap
      cents = cents.zipWithIndex.map { case (old, i) =>
        stats.get(i) match {
          case Some((Some(sum), n)) if n > 0 => sum.map(_ / n)
          case _ => old // empty or all-null cell keeps its centroid
        }
      }
    }
    cents
  }

  /**
   * Deterministic LCG projection matrix for [[projectVectors]]:
   * w(i,j) = ((1103515245·(i·outDim+j) + 12345) mod 2³¹) mod 2001 − 1000
   * — pseudo-random in [−1000, 1000], reproducible in any engine with
   * 64-bit integer arithmetic (the glibc LCG constants). */
  def lcgMatrix(inDim: Int, outDim: Int): Array[Array[Long]] =
    Array.tabulate(inDim, outDim) { (i, j) =>
      ((1103515245L * (i.toLong * outDim + j) + 12345L) % 2147483648L) % 2001L - 1000L
    }

  /**
   * Linear projection of an embedding column through a literal matrix —
   * the Johnson-Lindenstrauss random-projection / learned-PCA APPLY
   * step of a dimensionality-reduction pipeline. Inputs quantize to
   * round(x·scale) integers and the matrix is integer-valued, so every
   * output coordinate is an exact integer dot product — hash-stable
   * cross-engine. Long-form (id, j, y_q) output.
   *
   * Scale shape: the matrix rides into the plan as a literal (bounded
   * small state — inDim×outDim), the projection is ONE narrow codegen
   * projection + a Generate posexplode; the corpus crosses zero
   * exchanges. Exactness contract: |x|·scale·1000·inDim < 2⁶³.
   */
  def projectVectors(df: DataFrame, idCol: String, vecCol: String,
                     matrix: Array[Array[Long]],
                     scale: Double = 1000.0): DataFrame = {
    require(matrix.nonEmpty && matrix.forall(_.length == matrix.head.length),
      "matrix must be rectangular and non-empty")
    val outDim = matrix.head.length
    val q = transform(col(vecCol), x => round(x.cast("double") * scale).cast("long"))
    val proj = transform(sequence(lit(0), lit(outDim - 1)), j =>
      aggregate(
        zip_with(col("__q"), typedLit(matrix.map(_.toSeq).toSeq),
          (x, row) => x * element_at(row, j + 1)),
        lit(0L), (acc, v) => acc + v))
    df.select(col(idCol), q.as("__q"))
      .select(col(idCol), posexplode(proj))
      .select(col(idCol), col("pos").cast("long").as("j"),
        col("col").as("y_q"))
  }

  /**
   * LSH-bucketed ANN (the scale path): queries and corpus hashed to SRP
   * buckets over several bands; candidates = bucket collisions; exact
   * cosine + top-k on the (much smaller) candidate set. Recall grows
   * with bands; the shuffle is keyed on bucket bits, never all-pairs.
   */
  def srpTopK(corpus: DataFrame, queries: DataFrame,
              corpusId: String, corpusVec: String,
              queryId: String, queryVec: String, k: Int,
              bandsSeeds: Seq[Long] = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
              bits: Int = 12, roundDigits: Int = -1): DataFrame = {
    // Band only (id, band, bucket) — the bucket join must not shuffle
    // the vectors bands-times over; they are re-joined by id for the
    // exact-cosine refine (candidates << corpus x bands at scale).
    // bits = 0 is the EXACT degeneration: every vector lands in one
    // bucket, the bucket join becomes exhaustive, and the output equals
    // brute force — the config that puts the SRP plumbing itself under
    // a DuckDB oracle (same trick as ivfTopK nprobe=nlist).
    def banded(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      df.select(col(idCol),
          posexplode(array(bandsSeeds.map(s =>
            if (bits == 0) lit(0L) else srp_bits(col(vecCol), bits, s)): _*)))
        .withColumnRenamed("pos", "__band")
        .withColumnRenamed("col", "__bucket")

    val c = banded(corpus, corpusId, corpusVec)
    val q = banded(queries, queryId, queryVec)
    val candidates = q.join(c, Seq("__band", "__bucket"))
      .select(col(queryId), col(corpusId))
      .dropDuplicates(queryId, corpusId)
    val cos = cosine_similarity(col(queryVec), col(corpusVec))
    val scored = candidates
      .join(queries.select(col(queryId), col(queryVec)), queryId)
      .join(corpus.select(col(corpusId), col(corpusVec)), corpusId)
      .withColumn("cosine", if (roundDigits >= 0) round(cos, roundDigits) else cos)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("rank"))
  }
}

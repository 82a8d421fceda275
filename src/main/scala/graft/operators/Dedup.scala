package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SimHash64.simhash64

/** Deduplication operators for large-scale corpus cleaning (beyond-reference
  * surface, BASELINE.json north star). All variants are shuffle-bounded:
  * candidate generation is an equi-join on a bucket key (LSH band / simhash
  * band / text hash), never a pairwise scan — the property that keeps them
  * viable at 100 TB. No driver-side state anywhere.
  *
  * Everything except SimHash composes codegen'd built-ins (higher-order
  * array functions + xxhash64); SimHash uses the custom Catalyst expression
  * [[graft.functions.SimHash64]].
  */
object Dedup {

  /** Canonical text normalization: lowercase, collapse whitespace, trim.
    * Whitespace is the EXPLICIT class [ \t\n\x0B\f\r] rather than `\s`:
    * Java's \s includes vertical tab (\x0B) where RE2's (DuckDB's) does
    * not, so a `\s` here would silently diverge from every tokenizer
    * oracle twin on any input containing \x0B. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "[ \\t\\n\\x0B\\f\\r]+", " "))

  /** Distinct hashed character k-shingles of the normalized text.
    * Hash-first keeps the set representation at 8 bytes/shingle regardless
    * of shingle length. Implemented as a custom rolling-hash Expression —
    * the equivalent transform(sequence…, xxhash64(substr…)) composition
    * evaluates its lambda interpretively per element and is ~25× slower. */
  def shingleHashSet(text: Column, k: Int): Column =
    graft.functions.TextHashExprs.shingleHashSet(normalize(text), k)

  /** Distinct hashed word n-grams (token shingles) - ONE codegen kernel
    * pass per row (see TextHashKernels.wordNgramHashSet for the exact
    * xxhash64 contract). Replaces the interpreted Column formula that
    * re-sliced the token array per gram and dominated the
    * decontamination family's corpus scan; DedupSpec pins kernel = formula
    * parity. */
  def wordNgramHashSet(text: Column, n: Int): Column =
    graft.functions.TextHashExprs.wordNgramHashSet(normalize(text), n)

  /** The interpreted Column formula the kernel replaced - retained ONLY
    * as the spec-side parity oracle (DedupSpec). */
  private[graft] def wordNgramHashSetColumnFormula(text: Column, n: Int): Column = {
    val toks = filter(split(normalize(text), " "), t => length(t) > 0)
    val cnt = size(toks)
    sort_array( // sorted set -> downstream merge-Jaccard
      when(cnt < n, array(xxhash64(concat_ws(" ", toks)))).otherwise(
        array_distinct(transform(
          sequence(lit(1), cnt - lit(n - 1)),
          i => xxhash64(concat_ws("", slice(toks, i, lit(n))))))))
  }

  /** MinHash signature (array<long>, length numHashes) over a hashed shingle
    * set, via seeded affine rehash h_j(x) = a_j*x + b_j with wrap-around —
    * one tight loop per row (custom Expression; see TextHashExprs). */
  def minhashSignature(shingleHashes: Column, numHashes: Int, seed: Long): Column =
    graft.functions.TextHashExprs.minhashSig(shingleHashes, numHashes, seed)

  /** LSH banding: (band_idx, band_hash) per band; equal band ⇒ candidate.
    * With numHashes=128, bands=16 (r=8): P(candidate) ≈ 1-(1-j^8)^16 — steep
    * S-curve around j≈0.75. */
  def bandHashes(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      hash(slice(signature, b * rowsPerBand + 1, rowsPerBand)).cast("long")
    }: _*)

  final case class MinHashConfig(
      numHashes: Int = 128,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.8,
      seed: Long = 42L) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def rowsPerBand: Int = numHashes / bands
  }

  /** Candidate near-duplicate pairs (id_a < id_b) with exact Jaccard over
    * the hashed shingle sets.
    *
    * Plan shape (scale notes):
    *  1. one scan computes shingle set + signature + band keys;
    *  2. posexplode bands → shuffle on (band_idx, band_hash) — the ONLY
    *     quadratic-risk point is a degenerate bucket, so buckets larger than
    *     `maxBucket` are dropped (boilerplate/empty-text floods; standard
    *     LSH hygiene). The drop is observable, not silent: the
    *     `minhash_lsh` observation emits `dropped_band_rows` (rows in
    *     over-cap buckets) for any QueryExecutionListener / metrics sink;
    *  3. pair-join inside buckets, dedup pairs, then ONE join back to the
    *     (id, shingles) side to fetch both sets for exact verification.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      cfg: MinHashConfig = MinHashConfig(),
      maxBucket: Int = 1000): DataFrame = {
    // The (id, shingles, bands) projection is re-read by four plan branches
    // (bucket left/right + two verification joins). Materialize it once and
    // cut lineage — otherwise Catalyst re-optimizes (and executors recompute)
    // the many-lane signature subtree per branch, and optimization time blows
    // up superlinearly in plan size. On a cluster this is the "signature
    // table" any production LSH dedup persists before the bucket join.
    val base = df.select(
        col(idCol).as("__id"),
        shingleHashSet(col(textCol), cfg.shingleSize).as("__sh"))
      .withColumn("__sig", minhashSignature(col("__sh"), cfg.numHashes, cfg.seed))
      .withColumn("__bands", bandHashes(col("__sig"), cfg.bands, cfg.rowsPerBand))
      .transform(graft.core.Checkpoint.cut)

    val sets = base.select(col("__id"), col("__sh"))
    val sigs = base.select(col("__id"), col("__sig"))
    val banded = base.select(col("__id"),
      posexplode(col("__bands")).as(Seq("__b", "__bh")))

    // Bucket aggregation: ONE shuffle of the bands×-exploded table into
    // per-bucket id lists; the aggregator doubles as the size cap
    // (over-cap buckets = boilerplate floods drop, observably — and with
    // BOUNDED buffer memory, so a degenerate bucket can't OOM a reducer)
    // and pairs explode list-locally — no self-join. The previous shape
    // (window count + self-join) shuffled the exploded table TWICE
    // because the join's broadcast side defeats ReusedExchange; this
    // halves the dominant shuffle (~15% on d02 at sf0.1).
    val cappedIds = udaf(
      new graft.functions.Aggregators.CollectCapped(maxBucket),
      org.apache.spark.sql.Encoders.LONG)
    val pairs = banded
      .groupBy(col("__b"), col("__bh"))
      .agg(cappedIds(col("__id")).as("__bk"))
      .observe("minhash_lsh",
        sum(when(col("__bk.n") > maxBucket, col("__bk.n")).otherwise(0L))
          .as("dropped_band_rows"))
      .filter(col("__bk.n").between(2, maxBucket))
      .select(explode(col("__bk.ids")).as("id_a"), col("__bk.ids").as("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()

    // Stage A: cheap signature-estimate filter — the MinHash signature IS an
    // unbiased Jaccard estimator (matching-lane fraction), and at 8 bytes ×
    // numHashes it ships 4-8× less data than the shingle sets. Pairs whose
    // estimate falls a safety margin below the threshold skip exact
    // verification entirely (stderr of the estimate is ~1/√numHashes; the
    // 2σ margin keeps recall while cutting the heavy join's input).
    val margin = 2.0 / math.sqrt(cfg.numHashes.toDouble)
    val estimated = pairs
      .join(sigs.select(col("__id").as("id_a"), col("__sig").as("__ga")), Seq("id_a"))
      .join(sigs.select(col("__id").as("id_b"), col("__sig").as("__gb")), Seq("id_b"))
      .withColumn("__est",
        graft.functions.TextHashExprs.matchingFraction(col("__ga"), col("__gb")))
      .filter(col("__est") >= cfg.threshold - margin)
      .select(col("id_a"), col("id_b"))

    // Stage B: exact verify on the survivors only.
    estimated
      .join(sets.select(col("__id").as("id_a"), col("__sh").as("__sa")), Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__sh").as("__sb")), Seq("id_b"))
      .withColumn("jaccard", // sorted-merge expression; sets come out sorted
        graft.functions.TextHashExprs.jaccardSorted(col("__sa"), col("__sb")))
      .filter(col("jaccard") >= cfg.threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Survivors after MinHash dedup: drop every doc that has a near-duplicate
    * with a smaller id ("keep earliest" greedy — the standard streaming-order
    * discipline). For full transitive clustering use [[minhashDedupTransitive]]. */
  def minhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val victims = minhashCandidates(df, idCol, textCol, cfg)
      .select(col("id_b").as("__victim")).distinct()
    df.join(victims, col(idCol) === col("__victim"), "left_anti")
  }

  /** Transitive MinHash dedup: connected components over the near-dup pair
    * graph (a~b~c collapses to ONE survivor even when a≁c directly) — one
    * min-id survivor per component, by union-find on the driver up to
    * [[ConnectedComponents.DriverEdges]] pair edges and by label
    * propagation above. */
  def minhashDedupTransitive(
      df: DataFrame,
      idCol: String,
      textCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    ConnectedComponents.transitiveSurvivors(df, idCol,
      minhashCandidates(df, idCol, textCol, cfg))

  /** Duplicate-cluster assignment: every doc labeled with its transitive
    * near-dup cluster id (min id in the component; singletons label
    * themselves) — the auditable output behind [[minhashDedupTransitive]]:
    * who got dropped, and to whom each was attributed. */
  def minhashClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    ConnectedComponents.clusterAssignments(df, idCol,
      minhashCandidates(df, idCol, textCol, cfg))

  /** Per-cluster duplicate statistics — the corpus-audit rollup over
    * [[minhashClusters]]: how big each near-dup cluster is, how much text
    * it holds, and how much a dedup pass would drop (`cluster_size - 1`
    * docs; every char beyond the representative's). Integer-exact
    * (counts + char sums only) so it stays hash-verifiable cross-engine.
    * The representative IS the cluster id (min reachable id), so no extra
    * column is needed. One extra shuffle beyond the assignment (groupBy
    * cluster); partial aggregation keeps it map-side-combined at scale. */
  def clusterStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    minhashClusters(df, idCol, textCol, cfg)
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("cluster_size"),
        sum(length(col(textCol))).as("total_chars"),
        max(length(col(textCol))).as("max_chars"),
        // the survivor of a dedup pass is the min-id member == cluster id,
        // so what a pass drops is everything beyond THAT member's text
        (sum(length(col(textCol))) -
          max(when(col(idCol) === col("cluster"), length(col(textCol)))))
          .as("dropped_chars"))

  /** Exact duplicate-SPAN detection — the substring-level dedup shape
    * (suffix-array ExactSubstr, re-expressed Spark-first as fixed-k word
    * grams): a token position is duplicated when its k-gram occurs at more
    * than one (doc, pos) site corpus-wide; overlapping duplicated grams
    * merge into maximal spans per doc (gaps-and-islands over start
    * positions). Fixed k ≥ the dedup threshold is what makes this
    * shuffle-bounded — one exchange keyed by xxhash64(gram), one by doc —
    * where a true suffix array needs global order. Everything is
    * integer-exact: positions, counts, hash equality (collision-tolerant:
    * a 64-bit collision only over-marks; the string-equality oracle twin
    * still hash-matches because collisions are ~n²/2⁶⁵).
    *
    * Returns (idCol, span_start, span_end, n_dup_grams) with token indices
    * inclusive. */
  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dpos = duplicatedStarts(df, idCol, textCol, k)
    val wd = Window.partitionBy(idCol).orderBy("pos")
    // islands: a start extends the current span iff it overlaps the
    // previous gram's coverage [prev, prev+k-1]
    val newIsland =
      when(col("pos") <= lag("pos", 1).over(wd) + (k - 1), 0).otherwise(1)
    dpos.withColumn("__isl", sum(newIsland).over(wd))
      .groupBy(col(idCol), col("__isl"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("n_dup_grams"))
  }

  /** Remove every duplicated span (the aggressive ExactSubstr variant:
    * all copies go, not all-but-one — deterministic with no global
    * tie-break state). Tokens covered by any duplicated k-gram are cut;
    * the rest re-join in order. Returns (idCol, clean_text,
    * n_removed_tokens); fully-duplicated docs keep an empty string. */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    val toks = filter(split(normalize(col(textCol)), " "), t => length(t) > 0)
    val base = df.select(col(idCol), posexplode(toks).as(Seq("pos", "tok")))
    val covered = duplicatedStarts(df, idCol, textCol, k)
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
    base.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        sort_array(collect_list(struct(col("pos"), col("tok"))))
          .as("__ordered"),
        // counted in the aggregate, NOT size() over the joined array:
        // size(NULL) is -1 under non-ANSI legacy semantics, which would
        // silently over-count removals for fully-covered docs
        count(lit(1)).as("__kept"))
      .select(col(idCol),
        array_join(transform(col("__ordered"), _.getField("tok")), " ")
          .as("clean_text"),
        col("__kept"))
      .join(df.select(col(idCol), size(filter(split(normalize(col(textCol)),
          " "), t => length(t) > 0)).as("__total")), Seq(idCol), "right")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        // greatest(,0): size(NULL) is -1 under legacy sizeOfNull, so a
        // NULL-text row would otherwise report n_removed_tokens = -1 —
        // the same pitfall the __kept aggregate above avoids
        (greatest(col("__total"), lit(0)) - coalesce(col("__kept"), lit(0)))
          .as("n_removed_tokens"))
  }

  /** Quality-aware duplicate-cluster representatives: like
    * [[minhashClusters]], but the SURVIVOR of each cluster is its
    * highest-quality member ((qualityCol DESC, id ASC) — the id tiebreak
    * keeps ties deterministic and the whole output oracle-able) instead
    * of the min id. The standard refinement once a dedup pass feeds
    * training: keep the best copy, not the earliest. One extra
    * per-cluster window beyond the assignment; `rep_id` is attached to
    * every member so the drop is auditable (`keep` ⇔ id == rep_id). */
  def qualityRepresentatives(
      df: DataFrame,
      idCol: String,
      textCol: String,
      qualityCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(qualityCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    minhashClusters(df, idCol, textCol, cfg)
      .withColumn("rep_id", first(col(idCol)).over(w))
      .withColumn("keep", col(idCol) === col("rep_id"))
  }

  /** Per-document duplication profile — the filter-score view of
    * [[duplicateSpans]]: how many of a doc's k-gram starts are duplicated
    * corpus-wide, how many tokens any duplicated gram covers, and the
    * covered-token ratio (one exact IEEE division; everything else
    * integer). The standard "drop docs that are mostly boilerplate"
    * signal at corpus scale. Returns (idCol, n_tokens, n_grams,
    * n_dup_grams, n_dup_tokens, dup_ratio). */
  def duplicationProfile(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    val dpos = duplicatedStarts(df, idCol, textCol, k)
    val dupGrams = dpos.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_grams"))
    val dupTokens = dpos
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_tokens"))
    val nToks = size(filter(split(normalize(col(textCol)), " "),
      t => length(t) > 0)).cast("long")
    df.select(col(idCol), nToks.as("n_tokens"))
      .withColumn("n_grams", greatest(col("n_tokens") - (k - 1), lit(0L)))
      .join(dupGrams, Seq(idCol), "left")
      .join(dupTokens, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        when(col("n_tokens") > 0,
          coalesce(col("n_dup_tokens"), lit(0L)).cast("double") /
            col("n_tokens"))
          .otherwise(lit(0.0)).as("dup_ratio"))
  }

  /** Start positions whose word k-gram occurs at >1 (doc, pos) site
    * corpus-wide. Grams build with per-doc lead() windows (k tokens wide),
    * NOT a transform() lambda — higher-order lambdas evaluate interpreted
    * and inline their children per element (round-4 constraint #1).
    *
    * The duplicate test is deliberately NOT a count window partitioned by
    * the gram: a window has no partial aggregation, so every occurrence of
    * a hot boilerplate gram (cookie banners, license headers — 10⁸+ sites
    * at corpus scale) physically lands in ONE task's window partition, an
    * unsplittable straggler AQE cannot break up (skew handling does not
    * split window partitions). Instead: key by xxhash64(gram) — 8 bytes on
    * the wire instead of the ~50+-byte raw string — groupBy-count (map-side
    * combine collapses a hot gram to one row per input partition), filter
    * n>1, and semi-join the duplicated-hash set back (AQE-splittable, and
    * broadcast when the duplicated set is small). Collision-tolerant: a
    * 64-bit collision only over-marks a position as duplicated. */
  private def duplicatedStarts(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // r14 (guide §2.4): grams build LIST-LOCALLY via the wordNgrams
    // kernel — the old shape posexploded the token stream and ran a
    // per-doc lead()×k window, which cost a full exchange of every token
    // keyed by doc id BEFORE any duplication logic. posexplode of the
    // kernel's gram array yields the same 0-based start position, and
    // each gram string is the same single-space token join (normalize
    // single-spaces the text), so xxhash64 groups identically —
    // (id, pos) output is bit-identical with one exchange fewer.
    val grams = df.select(col(idCol), posexplode(
        graft.functions.TextHashExprs.wordNgrams(
          normalize(col(textCol)), k)).as(Seq("pos", "__g")))
      .select(col(idCol), col("pos"), xxhash64(col("__g")).as("__gh"))
      // the gram stream feeds BOTH the count branch and the join-back —
      // cut so the (possibly expensive) df subtree is scanned once
      .transform(graft.core.Checkpoint.cut)
    val dup = grams.groupBy(col("__gh"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__gh"))
    grams.join(dup, Seq("__gh"), "left_semi")
      .select(col(idCol), col("pos"))
  }

  /** Per-document LONGEST duplicated span length — the ExactSubstr
    * capability the fixed-k gram family (d13-d15) cannot express: the
    * largest L such that some L-token gram of the doc occurs at more than
    * one (doc, pos) site corpus-wide (0 = no token of the doc repeats
    * anywhere).
    *
    * `maxPow <= 0` (the default) derives the ladder height from the CORPUS:
    * floor(log2(max doc token count)), which makes the answer EXACT for
    * every possible repeat length at a cost that grows only logarithmically
    * with doc length (one lead() window + one dup-test level per power of
    * two — a 100k-token book adds 8 levels over a 500-token doc). An
    * explicit `maxPow` bounds the work instead: exact for L < 2^maxPow,
    * longer repeats report the refined in-bracket value as a lower bound.
    *
    * Spark-first prefix doubling (Manber-Myers rank doubling re-expressed
    * on hashed fingerprints — no global suffix sort needed because we only
    * need DUPLICATION, not order):
    *
    *  1. Ladder: level-j fingerprints h_j(p) of the 2^j-gram at every
    *     position, h_{j+1}(p) = xxhash64(h_j(p), h_j(p+2^j)) — one per-DOC
    *     lead() window per level (never a hot-key partition), log2(maxLen)
    *     levels.
    *  2. Level dup test: groupBy h_j count>1 — the same partial-agg +
    *     semi-join shape as [[duplicateSpans]] (map-side combine absorbs
    *     boilerplate floods). Per doc: jmax = largest level with any dup ⇒
    *     longest ∈ [2^jmax, 2^(jmax+1)) (an L-gram's 2^floor(log2 L)-prefix
    *     is duplicated whenever the L-gram is).
    *  3. Refine: binary search on L inside the bracket with the standard
    *     two-overlapping-blocks equality — grams of length L ∈ (2^j, 2^(j+1))
    *     are equal iff their leading AND trailing 2^j-block fingerprints
    *     are — keyed (L, h_j(p), h_j(p+L-2^j)). The refinement universe is
    *     ONLY the level-j duplicated starts: any partner of a length-L
    *     repeat is itself a level-j dup start, so the search never touches
    *     the non-duplicated bulk of the corpus. maxPow rounds, each one
    *     keyed exchange over that small set.
    *
    * Collision-tolerant like the whole family: a 64-bit collision can only
    * over-report a length. Returns (idCol, longest_repeat). */
  def longestRepeat(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxPow: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val toks = filter(split(normalize(col(textCol)), " "), t => length(t) > 0)
    val base0 = df.select(col(idCol).as("__id"), posexplode(toks).as(Seq("pos", "tok")))
      .select(col("__id"), col("pos"), xxhash64(col("tok")).as("h0"))
      .transform(graft.core.Checkpoint.cut)
    val wDoc = Window.partitionBy("__id").orderBy("pos")
    val maxLen = base0.groupBy(col("__id")).count()
      .agg(max(col("count"))).head().getLong(0)
    val corpusPow =
      math.max(0, 63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxLen)))
    val effPow = if (maxPow > 0) maxPow else corpusPow
    val levels = math.min(effPow, corpusPow)

    // ladder: h_j columns (null once the 2^j-gram would cross the doc end)
    var lad = base0
    var j = 0
    while (j < levels) {
      val nxt = lead(col(s"h$j"), 1 << j).over(wDoc)
      lad = lad.withColumn(s"h${j + 1}",
        when(nxt.isNotNull, xxhash64(col(s"h$j"), nxt)))
      j += 1
    }
    lad = lad.transform(graft.core.Checkpoint.cut)

    // level dup starts (cut once per level — reused by bracket and refine)
    val dupStarts: IndexedSeq[DataFrame] = (0 to levels).map { jj =>
      val hs = lad.filter(col(s"h$jj").isNotNull)
        .select(col("__id"), col("pos"), col(s"h$jj").as("__h"))
      val dups = hs.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).select(col("__h"))
      hs.join(dups, Seq("__h"), "left_semi")
        .select(col("__id"), col("pos"), col("__h"))
        .transform(graft.core.Checkpoint.cut)
    }

    // per-doc bracket: jmax and its binary-search state [lo, hi]. hi starts
    // at the FULL bracket top (2^(j+1)-1), deliberately NOT clamped to the
    // doc's token count: a length beyond the doc can never hit (the doc has
    // no position probe there), so the converged lo is identical — and every
    // doc at a level now shares the same search-path prefix, which keeps
    // `lens` (the distinct lengths probed per round) at O(2^round · levels)
    // instead of O(distinct doc lengths · levels) from round 0. On the
    // 10x-clone dense stress the clamp made the keyed probe join explode
    // ~50x in the first rounds (317 s for round 0 alone); unclamped, each
    // early round joins each dup start against ONE length per level.
    val jmax = dupStarts.zipWithIndex.map { case (d, jj) =>
        d.select(col("__id")).distinct().withColumn("__j", lit(jj)) }
      .reduce(_ union _)
      .groupBy(col("__id")).agg(max(col("__j")).as("__j"))
    var state = jmax
      .selectExpr("__id", "__j",
        "CAST(shiftleft(1, __j) AS BIGINT) AS lo",
        "CAST(shiftleft(1, __j + 1) AS BIGINT) - 1 AS hi")
      .transform(graft.core.Checkpoint.cut)

    // PACKED dup starts — the islands trick taken to its limit: all of a
    // (doc, level)'s dup starts collapse into ONE row of position-sorted
    // parallel arrays (consecutive dup starts — maximal on dense corpora,
    // where EVERY position is one — compress into adjacent array slots).
    // The per-round tail lookup then becomes a two-pointer walk WITHIN
    // each row (p, p + L - 2^j both dup starts ⇒ emit (h(p), h(q))),
    // replacing the former 2-sided positional shuffle join over every
    // dup-start row and the per-round multi-million-row lineage cut —
    // the r6 dense-stress profile spent 45-60 s per round there. Lossless:
    // the pair (h, t) can only reach count ≥ 2 when both its endpoints
    // are level-j dup starts, so walking dup starts only drops nothing.
    val packed = dupStarts.zipWithIndex.map { case (d, jj) =>
        d.withColumn("__j", lit(jj)) }
      .reduce(_ union _)
      .groupBy(col("__id"), col("__j"))
      .agg(sort_array(collect_list(struct(
        col("pos").cast("long").as("p"), col("__h").as("h")))).as("__ph"))
      .select(col("__id"), col("__j"),
        col("__ph.p").as("__poss"), col("__ph.h").as("__hs"))
      .transform(graft.core.Checkpoint.cut)

    // refine: ≤ effPow rounds of shared binary search — all docs advance
    // one probe per round; each round is one partition-local pair walk
    // plus one keyed exchange over the emitted pairs, never the corpus
    var r = 0
    var done = false
    while (r < effPow && !done) {
      val withMid = state.withColumn("__mid", expr("(lo + hi + 1) div 2"))
      val lens = withMid.filter(col("lo") < col("hi"))
        .select(col("__j"), col("__mid").as("__L")).distinct()
      // driver-side: bounded by (levels × distinct lengths this round) —
      // the per-round length menu, never data
      val lensByJ: Map[Int, Seq[Long]] = lens.collect()
        .map(row => (row.getInt(0), row.getLong(1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
      if (lensByJ.isEmpty) done = true
      else {
        // candidate keys: EVERY level-j dup start × every length under
        // test at that level (partner docs included regardless of state);
        // a q past the doc end simply has no dup-start slot — the walk
        // subsumes the old null-tail filter
        val pairUdf = udf((j: Int, poss: Seq[Long], hs: Seq[Long]) => {
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          lensByJ.getOrElse(j, Nil).foreach { ll =>
            val d = ll - (1L << j)
            var a = 0
            var b = 0
            while (a < poss.length) {
              val target = poss(a) + d // monotone in a ⇒ b never rewinds
              while (b < poss.length && poss(b) < target) b += 1
              if (b < poss.length && poss(b) == target)
                out += ((ll, hs(a), hs(b)))
              a += 1
            }
          }
          out.toSeq
        })
        val activeJs = lensByJ.keys.toSeq
        val probes = packed
          .filter(col("__j").isin(activeJs: _*))
          .select(col("__id"), col("__j"),
            explode(pairUdf(col("__j"), col("__poss"), col("__hs"))).as("__e"))
          .select(col("__id"), col("__j"), col("__e._1").as("__L"),
            col("__e._2").as("__h"), col("__e._3").as("__t"))
          .transform(graft.core.Checkpoint.cut)
        val dupKeys = probes
          .groupBy(col("__j"), col("__L"), col("__h"), col("__t"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1)
          .select(col("__j"), col("__L"), col("__h"), col("__t"))
        val hitDocs = probes
          .join(dupKeys, Seq("__j", "__L", "__h", "__t"), "left_semi")
          .select(col("__id"), col("__L")).distinct()
          .withColumn("__hit", lit(true))
        state = withMid
          .join(hitDocs,
            withMid("__id") === hitDocs("__id") &&
              withMid("__mid") === hitDocs("__L"), "left")
          .select(withMid("__id"), withMid("__j"),
            when(col("lo") < col("hi"),
                when(col("__hit").isNotNull, col("__mid")).otherwise(col("lo")))
              .otherwise(col("lo")).as("lo"),
            when(col("lo") < col("hi"),
                when(col("__hit").isNotNull, col("hi"))
                  .otherwise(col("__mid") - 1))
              .otherwise(col("hi")).as("hi"))
          .transform(graft.core.Checkpoint.cut)
      }
      r += 1
    }

    df.select(col(idCol))
      .join(state.select(col("__id").as(idCol), col("lo")), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("lo"), lit(0L)).as("longest_repeat"))
  }

  /** 64-bit SimHash over word-token hashes. */
  def simhashColumn(text: Column): Column = {
    val toks = filter(split(normalize(text), " "), t => length(t) > 0)
    simhash64(transform(toks, t => xxhash64(t)))
  }

  /** SimHash near-duplicate pairs: band the 64-bit hash into disjoint
    * chunks (pigeonhole: hamming ≤ bands-1 guarantees ≥1 equal band),
    * bucket-join, verify with bit_count(a^b) ≤ maxHamming.
    *
    * The band count is DERIVED as `maxHamming + 1` by default so the
    * pigeonhole recall guarantee can never be silently violated (round-1
    * advice: a caller-chosen bands < maxHamming+1 used to drop pairs with
    * hamming in [bands, maxHamming] invisibly). An explicit `bands` must
    * satisfy `bands > maxHamming`. Chunks may be uneven (64 need not divide
    * evenly); larger maxHamming ⇒ more, narrower bands ⇒ coarser buckets —
    * the honest cost of exact recall; keep maxHamming modest at scale.
    *
    * Buckets larger than `maxBucket` are dropped with the same capped-list
    * discipline as [[minhashCandidates]] (bounded reducer memory, drops
    * observable via the `simhash_lsh` observation's `dropped_band_rows`) —
    * a degenerate band value (e.g. the all-zero chunk every near-empty doc
    * produces) would otherwise go quadratic silently. */
  def simhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 0,
      maxBucket: Int = 1000): DataFrame = {
    val nb = if (bands > 0) bands else maxHamming + 1
    require(nb > maxHamming,
      s"bands=$nb cannot guarantee recall at maxHamming=$maxHamming (need bands > maxHamming)")
    require(nb <= 64, s"bands=$nb exceeds the 64-bit hash width")
    val base = df.select(col(idCol).as("__id"),
        simhashColumn(col(textCol)).as("__sh"))
    // disjoint chunks covering all 64 bits: first (64 % nb) bands get the
    // extra bit — uneven widths keep the pigeonhole argument intact
    val baseW = 64 / nb
    val rem = 64 % nb
    val chunks = (0 until nb).map { b =>
      val w = baseW + (if (b < rem) 1 else 0)
      val off = b * baseW + math.min(b, rem)
      (off, w)
    }
    val banded = base.select(col("__id"), col("__sh"),
      posexplode(array(chunks.map { case (off, w) =>
        val mask = if (w == 64) -1L else (1L << w) - 1
        shiftrightunsigned(col("__sh"), off).bitwiseAND(lit(mask))
      }: _*)).as(Seq("__b", "__bv")))
    // Capped bucket lists (one shuffle, bounded buffer, observable drops),
    // pairs explode list-locally — same shape as minhashCandidates, except
    // each bucket member carries its 64-bit hash alongside its id
    // (CollectCappedPairs), so the hamming verify runs INSIDE the bucket
    // row and the pair set dedups AFTER the ≤ maxHamming filter. No join
    // back to the corpus for hashes: at scale that was two corpus-size
    // shuffle joins (and the checkpoint that fed them).
    val cappedPairs = udaf(
      new graft.functions.Aggregators.CollectCappedPairs(maxBucket))
    banded
      .groupBy(col("__b"), col("__bv"))
      .agg(cappedPairs(col("__id"), col("__sh")).as("__bk"))
      .observe("simhash_lsh",
        sum(when(col("__bk.n") > maxBucket, col("__bk.n")).otherwise(0L))
          .as("dropped_band_rows"))
      .filter(col("__bk.n").between(2, maxBucket))
      .select(col("__bk.as").as("__ids"), col("__bk.bs").as("__hs"))
      .select(posexplode(col("__ids")).as(Seq("__i", "id_a")),
        col("__ids"), col("__hs"))
      .select(col("id_a"), element_at(col("__hs"), col("__i") + 1).as("__ha"),
        posexplode(col("__ids")).as(Seq("__j", "id_b")), col("__hs"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(
          element_at(col("__hs"), col("__j") + 1))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Survivors after SimHash dedup (keep-earliest, as [[minhashDedup]]). */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val victims = simhashCandidates(df, idCol, textCol, maxHamming)
      .select(col("id_b").as("__victim")).distinct()
    df.join(victims, col(idCol) === col("__victim"), "left_anti")
  }

  /** Benchmark decontamination: count, per corpus document, the distinct
    * word n-grams it shares with ANY document of a (small) benchmark set —
    * the standard eval-leakage guard before training (n=8..13 in practice).
    *
    * Plan shape: the benchmark side collapses to ONE distinct hashed-gram
    * set (tiny — benchmarks are KBs, corpora are TBs), broadcast to an
    * equi-join against the exploded corpus grams; per-doc match counts come
    * from a partial-aggregated groupBy, and a left join restores the
    * zero-overlap docs. Corpus-linear, one shuffle (the groupBy on doc id),
    * no pairwise comparison anywhere.
    *
    * Returns every non-benchmark row's id with `shared_grams` (distinct
    * n-grams also present in the benchmark) and `contaminated`. */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val benchGrams = benchmark
      .select(explode(wordNgramHashSet(col(textCol), n)).as("__g"))
      .distinct()
    val hits = corpus
      .select(col(idCol).as("__id"),
        explode(wordNgramHashSet(col(textCol), n)).as("__g"))
      .join(broadcast(benchGrams), Seq("__g"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("__hits")) // grams are distinct per doc already
    corpus.select(col(idCol).as("__id"))
      .join(hits, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__hits"), lit(0L)).as("shared_grams"),
        (coalesce(col("__hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** SPAN-level decontamination — the surgical variant of
    * [[decontaminate]] (the Lee et al. ExactSubstr treatment applied to
    * benchmark overlap): instead of flagging a contaminated document,
    * every token covered by an n-gram that also appears in the benchmark
    * is EXCISED and the survivors re-join single-spaced, so one leaked
    * benchmark passage no longer costs the whole document. The benchmark's
    * distinct gram hashes materialize ONCE as a sorted long[] (bounded by
    * the benchmark, never the corpus — the t27 task-binary contract) and
    * ride inside one [[graft.functions.TextHashExprs.exciseContaminated]]
    * codegen kernel pass: zero exchanges, runs unchanged on a stream.
    * Returns (idCol, clean_text, n_removed_tokens); clean_text is the
    * normalized form (the [[removeDuplicateSpans]] convention), a doc that
    * is one big benchmark overlap keeps an empty string. */
  def decontaminateSpans(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val benchSorted = benchmark
      .select(explode(wordNgramHashSet(col(textCol), n)).as("__g"))
      .distinct()
      .collect().map(_.getLong(0)).sorted // bounded by the benchmark
    def toks(c: Column) = filter(split(c, " "), t => length(t) > 0)
    // NULL text ≡ empty text: a NULL corpus row yields clean_text = ''
    // with 0 removed tokens (never NULL through the kernel), the same
    // row the oracle's token pipeline produces for an empty doc
    val text = coalesce(col(textCol), lit(""))
    val clean = graft.functions.TextHashExprs.exciseContaminated(
      normalize(text), benchSorted, n)
    corpus.select(col(idCol), clean.as("clean_text"),
        toks(normalize(text)).as("__before"))
      .select(col(idCol), col("clean_text"),
        (size(col("__before")) - size(toks(col("clean_text"))))
          .cast("long").as("n_removed_tokens"))
  }

  /** The i-th Bloom bit position (in [0, mBits)) for one 64-bit element
    * hash: pos_i = xxhash64(elemHash, i) & (mBits-1) — k INDEPENDENT
    * seeded rehashes rather than Kirsch-Mitzenmacher double hashing.
    * Deliberate, twice over: (a) the family is expressible BOTH as plain
    * Column arithmetic (this method — the build side, and the DedupSpec
    * parity oracle) and as a tight static-kernel loop
    * ([[graft.functions.TextHashKernels.bloomProbe]] — the probe side,
    * which shares the inner xxhash64 across all k positions; a shared
    * h1/h2 Column subexpression would instead trip Janino's
    * split-function CSE under non-ANSI codegen — found empirically, the
    * fallback is an interpreted Predicate on the corpus-gram hot path);
    * (b) bitwiseAND against a power-of-two mask can neither overflow nor
    * go negative, so the formula is ANSI-agnostic.
    *
    * This ONE constructor defines the bloom's hash family: the build side
    * aggregates exactly these positions ([[bloomPositions]] →
    * [[graft.functions.Aggregators.BloomBits]]) and the probe side tests
    * exactly these positions ([[bloomMightContain]]), so no false
    * negatives are possible by construction. mBits must be a power of
    * two. */
  def bloomPosition(elemHash: Column, i: Int, mBits: Int): Column = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      "mBits must be a power of two >= 64")
    xxhash64(elemHash, lit(i)).bitwiseAND(lit(mBits - 1L))
  }

  /** All k positions as array<long> — the Bloom BUILD side's input
    * (exploded into [[graft.functions.Aggregators.BloomBits]]). */
  def bloomPositions(elemHash: Column, mBits: Int, k: Int = 6): Column = {
    require(k >= 1 && k <= 16, "k must be in [1,16]")
    array((0 until k).map(bloomPosition(elemHash, _, mBits)): _*)
  }

  /** Bloom membership probe: true iff EVERY [[bloomPosition]]'s bit is set
    * in the bitset (the long words from [[bloomBitsOf]]). Implemented as
    * ONE native codegen expression ([[graft.functions.BloomProbe]]) rather
    * than a k-way Column conjunction: whole-stage codegen does no
    * cross-use subexpression elimination here (measured — the conjunct
    * form generates every pos_i hash chain twice, word index + bit
    * offset), so the kernel binds each position once and shares the inner
    * xxhash64 of the element hash across all k probes. True means "maybe
    * present" (FP rate set by mBits/n and k); false means definitely
    * absent. Position-family parity with [[bloomPosition]] is pinned in
    * DedupSpec. */
  def bloomMightContain(bits: Array[Long], elemHash: Column, mBits: Int,
      k: Int = 6): Column = {
    // same guards the k-conjunct Column form inherited from bloomPosition:
    // a non-pow2 mBits masks into a DIFFERENT position family than the
    // build side (silent false negatives), k=0 would probe nothing
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      "mBits must be a power of two >= 64")
    require(k >= 1 && k <= 16, "k must be in [1,16]")
    require(bits.length == mBits >> 6,
      s"bitset has ${bits.length} words, mBits=$mBits needs ${mBits >> 6}")
    graft.functions.TextHashExprs.bloomProbe(elemHash, bits, mBits, k)
  }

  /** Distributed Bloom build, materialized as the fixed-size sketch it is:
    * the bitset ORs together map-side ([[graft.functions.Aggregators.BloomBits]]
    * partials, mBits/8 bytes per partition on the one single-partition
    * exchange) and the single result row comes back to the driver — the
    * same materialize-then-embed execution Spark's own runtime-filter
    * injection and `df.stat.bloomFilter` use for bloom sketches. Bounded
    * by mBits (default 512 KB), never by the data. */
  def bloomBitsOf(elemHashes: DataFrame, hashCol: String, mBits: Int,
      k: Int = 6): Array[Long] = {
    val bloomAgg = udaf(new graft.functions.Aggregators.BloomBits(mBits))
    elemHashes
      .select(explode(bloomPositions(col(hashCol), mBits, k)).as("__p"))
      .agg(bloomAgg(col("__p")).as("__bloom"))
      .head().getSeq[Long](0).toArray
  }

  /** [[decontaminate]] with a Bloom prefilter between the corpus grams and
    * the exact confirm join — same EXACT result (identical oracle), scale
    * path for when the benchmark gram set outgrows a broadcast.
    *
    * EAGER: unlike every other operator here, CONSTRUCTING this DataFrame
    * runs a real Spark job immediately — the benchmark-side bloom build
    * ([[bloomBitsOf]]) must materialize before its bitset can be embedded
    * as a literal (the materialize-then-embed shape of
    * `df.stat.bloomFilter` and Spark's own runtime-filter injection).
    * Callers building plans speculatively (plan lints, EXPLAIN sweeps) pay
    * that one bounded aggregation up front.
    *
    * Plan shape: the benchmark grams fold into ONE mBits-wide bitset
    * ([[bloomBitsOf]]) riding inside the probe expression as a single
    * long[] reference object, so the corpus
    * side stays a joinless scan→filter inside whole-stage codegen — the
    * sketch ships with the task binary's existing TorrentBroadcast, and no
    * 1-row join exists to collapse into a nested loop. Only bloom HITS
    * (true matches + ~0.8% FPs at 10 bits/gram, k=6) reach the exact
    * confirm join, which is UNHINTED: at test SF Catalyst broadcasts it,
    * at 100 TB AQE shuffles two tiny sides — either way the corpus-sized
    * gram stream never shuffles, which is the property [[decontaminate]]'s
    * broadcast shape loses once benchmarks reach GBs (the exact set must
    * fit on every executor: a 1 G-gram bench set is an 8 GB broadcast vs a
    * 1.25 GB bloom at 10 bits/gram — pick mBits ≈ 10·n grams).
    *
    * Output schema/semantics identical to [[decontaminate]]: every
    * non-benchmark row's id with `shared_grams` and `contaminated`. */
  def decontaminateBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      mBits: Int = 1 << 22,
      k: Int = 6): DataFrame = {
    val benchGrams = benchmark
      .select(explode(wordNgramHashSet(col(textCol), n)).as("__g"))
      .distinct()
    // bloom build skips the distinct: bit-OR is idempotent, so feeding
    // duplicate grams changes nothing and saves the build job's shuffle
    val rawBenchGrams = benchmark
      .select(explode(wordNgramHashSet(col(textCol), n)).as("__g"))
    val bits = bloomBitsOf(rawBenchGrams, "__g", mBits, k)
    decontaminateBloomWith(corpus, benchGrams, bits, idCol, textCol,
      n, mBits, k)
  }

  /** [[decontaminateBloom]]'s probe/confirm core over PREBUILT benchmark
    * artifacts (the bloom bitset + the distinct benchmark gram table) —
    * shared by the batch operator and the per-micro-batch streaming path
    * ([[graft.streaming.StreamDecontaminate.decontaminateBloomStream]]),
    * which builds both ONCE and replays this against every batch. */
  private[graft] def decontaminateBloomWith(
      corpus: DataFrame,
      benchGrams: DataFrame,
      bits: Array[Long],
      idCol: String,
      textCol: String,
      n: Int,
      mBits: Int,
      k: Int): DataFrame = {
    val candidates = corpus
      .select(col(idCol).as("__id"),
        explode(wordNgramHashSet(col(textCol), n)).as("__g"))
      .filter(bloomMightContain(bits, col("__g"), mBits, k))
    val hits = candidates
      .join(benchGrams, Seq("__g")) // exact confirm kills the bloom FPs
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("__hits")) // grams are distinct per doc already
    corpus.select(col(idCol).as("__id"))
      .join(hits, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__hits"), lit(0L)).as("shared_grams"),
        (coalesce(col("__hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Incremental (cross-corpus) dedup: drop from `batch` every document
    * that duplicates the EXISTING `corpus` — the shape every rolling-crawl
    * ingest runs (new crawl vs. what's already in the lake). The corpus
    * side is never modified; batch-internal duplicates are NOT touched
    * (run [[minhashDedup]] on the batch for that).
    *
    * Victims = exact normalized-text matches ∪ MinHash near-dups against
    * the corpus. Candidate generation is the same banded LSH equi-join as
    * [[minhashCandidates]] but across the two sides, so cost stays
    * (batch + corpus)-linear plus bucket-local pairing — at 100 TB the
    * corpus signatures are a precomputed table and only the batch side is
    * fresh work. Per-side bucket caps guard degenerate buckets (observable
    * via the fused `cross_lsh` observation's `dropped_batch_band_rows` /
    * `dropped_corpus_band_rows`; r13 renamed these from the retired
    * per-side `cross_lsh_batch`/`cross_lsh_corpus` observations'
    * `dropped_band_rows` when the two per-side aggregations fused into
    * one exchange — metric consumers keyed on the old names must move.
    * Since r14 the corpus band stream is pruned to batch-overlapping
    * buckets before the aggregation, so `dropped_corpus_band_rows`
    * observes over-cap corpus buckets only where this batch touches
    * them; victim output is unchanged). */
  def crossDedup(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      cfg: MinHashConfig = MinHashConfig(),
      maxBucket: Int = 1000): DataFrame =
    crossDedupPrepped(batch, idCol, textCol,
      crossPrep(corpus, idCol, textCol, cfg), cfg, maxBucket)

  /** The ONE corpus-side preparation both the recompute path
    * ([[crossDedup]]) and the incremental path
    * ([[Incremental.crossDedupAgainstState]]) flow through:
    * (__id, __nrm, __sh, __sig, __bands). Persisting exactly these
    * columns (minus the sig-derived __bands) as parquet and reading them
    * back IS the incremental dedup state — equivalence with the
    * recompute path holds by construction (longs/strings round-trip
    * parquet exactly) and is proven empirically in IncrementalSpec. */
  private[graft] def crossPrep(df: DataFrame, idCol: String,
      textCol: String, cfg: MinHashConfig, cut: Boolean = true): DataFrame = {
    val base = df.select(
        col(idCol).as("__id"),
        normalize(col(textCol)).as("__nrm"),
        shingleHashSet(col(textCol), cfg.shingleSize).as("__sh"))
      .withColumn("__sig",
        minhashSignature(col("__sh"), cfg.numHashes, cfg.seed))
      .withColumn("__bands",
        bandHashes(col("__sig"), cfg.bands, cfg.rowsPerBand))
    // cut = false for write-through consumers (Incremental state build):
    // the parquet write IS the materialization — checkpointing first
    // would double the write volume at corpus scale for nothing
    if (cut) base.transform(graft.core.Checkpoint.cut) else base
  }

  /** [[crossDedup]] against an ALREADY-PREPARED corpus side (a
    * [[crossPrep]] frame — live or read back from persisted dedup
    * state): batch docs that duplicate the prepared corpus exactly
    * (normalized text) or nearly (banded LSH + signature estimate +
    * exact Jaccard) are dropped.
    *
    * The victim ids are broadcast into the final anti-join. This relies
    * on the incremental contract that the batch (a delta) is small next
    * to the corpus: the victims are a subset of the batch's ids. The
    * survivors therefore keep the batch's own partitioning, with no
    * shuffle on the batch side. */
  def crossDedupPrepped(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      corpusPrepped: DataFrame,
      cfg: MinHashConfig = MinHashConfig(),
      maxBucket: Int = 1000): DataFrame = {
    val bPrep = crossPrep(batch, idCol, textCol, cfg)
    val nearVictims = crossMinhashCandidatesPrepped(
        bPrep, corpusPrepped, cfg, maxBucket)
      .select(col("batch_id").as("__victim"))
    // Exact victims decide on 8-byte hashes, not document text (r13,
    // guide §2.3/§8): the old shape distinct-shuffled the FULL corpus
    // nrm strings, then semi-join-shuffled them again — two corpus-text
    // exchanges to answer a membership question. Now the batch side's
    // xxhash64(nrm) set (delta-sized, 8 B/row — broadcastable long after
    // the text isn't) prunes the corpus to only hash-matching rows, and
    // ONLY those few rows carry their nrm into the verifying equi-join
    // on (hash, nrm) — same victim set bit-for-bit (the join still
    // requires exact string equality; the hash only pre-filters), with
    // the corpus-text shuffle gone.
    val bEx = bPrep.select(col("__id").as("__victim"), col("__nrm"),
      xxhash64(col("__nrm")).as("__h"))
    val cMatch = corpusPrepped
      .select(col("__nrm"), xxhash64(col("__nrm")).as("__h"))
      .join(bEx.select(col("__h")), Seq("__h"), "left_semi")
    val exactVictims = bEx
      .join(cMatch, Seq("__h", "__nrm"), "left_semi")
      .select(col("__victim"))
    // semi- and anti-joins ignore duplicates on their build side, so
    // neither victim set nor the hash set is deduplicated first. A
    // shuffled join would leave the survivors in spark.sql.shuffle.partitions
    // partitions, so each append of a one-file delta would write that many
    // files; broadcast, they keep the batch's partitions
    batch.join(broadcast(nearVictims.union(exactVictims)),
      col(idCol) === col("__victim"), "left_anti")
  }

  /** Near-duplicate (batch_id, corpus_id, jaccard) pairs ACROSS two sides:
    * banded LSH candidates between batch and corpus, signature-estimate
    * pre-filter, exact Jaccard verify — the two-sided twin of
    * [[minhashCandidates]] (same signature pipeline per side, same 2σ
    * margin, same capped buckets). */
  def crossMinhashCandidates(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      cfg: MinHashConfig = MinHashConfig(),
      maxBucket: Int = 1000): DataFrame =
    crossMinhashCandidatesPrepped(
      crossPrep(batch, idCol, textCol, cfg),
      crossPrep(corpus, idCol, textCol, cfg), cfg, maxBucket)

  /** Candidate pipeline over two ALREADY-PREPARED [[crossPrep]] sides —
    * the shared core of the recompute and incremental-state paths. */
  private[graft] def crossMinhashCandidatesPrepped(
      bBase: DataFrame,
      cBase: DataFrame,
      cfg: MinHashConfig,
      maxBucket: Int): DataFrame = {
    // Capped bucket lists for BOTH sides out of ONE aggregation (r13,
    // guide §2.4): the former per-side agg + co-partitioned bucket join
    // spent two shuffles plus the join's sorts; a side-tagged union into
    // a single groupBy moves the same bytes through one exchange and
    // emits each bucket's (batch ids, corpus ids) on one row — the pair
    // explode is list-local, no join at all. Caps, true counts and the
    // per-side drop metrics are unchanged: each side feeds its own
    // CollectCapped through a when(side, id) column (null-safe skip in
    // reduce keeps the other side's rows uncounted), so a bucket drops
    // iff THAT side overflows — exactly the old per-side semantics,
    // with bounded reducer memory by construction as before.
    val cappedIds = udaf(
      new graft.functions.Aggregators.CollectCapped(maxBucket),
      org.apache.spark.sql.Encoders.LONG)
    def banded(base: DataFrame, isBatch: Boolean) = base
      .select(lit(isBatch).as("__isb"), col("__id"),
        posexplode(col("__bands")).as(Seq("__b", "__bh")))
    val bBand = banded(bBase, isBatch = true)
    // r14 (guide §3.2): the corpus side only matters where it SHARES a
    // bucket with the batch — a corpus-only bucket has zero batch ids and
    // the between(1, maxBucket) filter drops it after the agg anyway. A
    // broadcast semi-join on the batch's band keys (delta×bands rows —
    // delta ≪ corpus is the incremental contract; the build side is the
    // raw key stream, so a capped batch bucket still keeps its corpus
    // side and the drop metrics for overlapping buckets are unchanged)
    // prunes the corpus band stream BEFORE the capped aggregation's
    // exchange: at corpus scale that exchange shrinks from corpus×bands
    // rows to only the delta-overlapping buckets. Pair output is
    // bit-identical; dropped_corpus_band_rows now observes over-cap
    // corpus buckets only where the batch touches them (the same
    // prefilter discipline as the r13 exact-victim hash semi-join).
    val cBand = banded(cBase, isBatch = false)
      .join(broadcast(bBand.select(col("__b"), col("__bh"))),
        Seq("__b", "__bh"), "left_semi")
    val pairs = bBand
      .unionByName(cBand)
      .groupBy(col("__b"), col("__bh"))
      .agg(
        cappedIds(when(col("__isb"), col("__id"))).as("__bbk"),
        cappedIds(when(!col("__isb"), col("__id"))).as("__cbk"))
      .observe("cross_lsh",
        sum(when(col("__bbk.n") > maxBucket, col("__bbk.n")).otherwise(0L))
          .as("dropped_batch_band_rows"),
        sum(when(col("__cbk.n") > maxBucket, col("__cbk.n")).otherwise(0L))
          .as("dropped_corpus_band_rows"))
      .filter(col("__bbk.n").between(1, maxBucket) &&
        col("__cbk.n").between(1, maxBucket))
      .select(explode(col("__bbk.ids")).as("batch_id"),
        col("__cbk.ids").as("__cids"))
      .select(col("batch_id"), explode(col("__cids")).as("corpus_id"))
      .distinct()

    val margin = 2.0 / math.sqrt(cfg.numHashes.toDouble)
    val estimated = pairs
      .join(bBase.select(col("__id").as("batch_id"), col("__sig").as("__ga")),
        Seq("batch_id"))
      .join(cBase.select(col("__id").as("corpus_id"), col("__sig").as("__gb")),
        Seq("corpus_id"))
      .withColumn("__est",
        graft.functions.TextHashExprs.matchingFraction(col("__ga"), col("__gb")))
      .filter(col("__est") >= cfg.threshold - margin)
      .select(col("batch_id"), col("corpus_id"))

    estimated
      .join(bBase.select(col("__id").as("batch_id"), col("__sh").as("__sa")),
        Seq("batch_id"))
      .join(cBase.select(col("__id").as("corpus_id"), col("__sh").as("__sb")),
        Seq("corpus_id"))
      .withColumn("jaccard",
        graft.functions.TextHashExprs.jaccardSorted(col("__sa"), col("__sb")))
      .filter(col("jaccard") >= cfg.threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** Exact word n-gram Jaccard similarity for candidate pairs: MinHash LSH
    * proposes, exact n-gram sets dispose. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      cfg: MinHashConfig = MinHashConfig(threshold = 0.0)): DataFrame = {
    val grams = df.select(col(idCol).as("__id"),
        wordNgramHashSet(col(textCol), n).as("__g"))
      .transform(graft.core.Checkpoint.cut) // joined twice (id_a and id_b sides)
    minhashCandidates(df, idCol, textCol, cfg)
      .select(col("id_a"), col("id_b"))
      .join(grams.select(col("__id").as("id_a"), col("__g").as("__ga")), Seq("id_a"))
      .join(grams.select(col("__id").as("id_b"), col("__g").as("__gb")), Seq("id_b"))
      .withColumn("ngram_jaccard",
        graft.functions.TextHashExprs.jaccardSorted(col("__ga"), col("__gb")))
      .filter(col("ngram_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("ngram_jaccard"))
  }

  /** Segment-level cross-corpus dedup (the CCNet shape: drop boilerplate
    * lines repeated across documents — here fixed-size word segments, since
    * segmentation is a parameter, not the algorithm): split each doc into
    * `segWords`-token segments, drop every segment whose corpus document
    * frequency exceeds `maxDocFreq`, reassemble survivors in order.
    *
    * Scale: one shuffle to count segment doc-frequency (partial-agg'd),
    * one anti-join against the frequent-segment set — which is the SMALL
    * side by construction (only segments repeated in > maxDocFreq docs),
    * so AQE broadcasts it at any corpus size — one shuffle to reassemble.
    * Docs whose every segment is dropped survive with empty `clean_text`.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 10, maxDocFreq: Int = 1): DataFrame = {
    require(segWords > 0, "segWords must be positive")
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    // codegen'd one-scan segmenter (on normalized text, segments are plain
    // substrings between word boundaries — no token array, no interpreted
    // per-segment lambdas); the cut still matters: the arrays feed three
    // plan branches (doc-frequency, survivor anti-join, totals)
    val base = df.select(col(idCol).as("__doc"),
      graft.functions.TextHashExprs.wordSegments(
        normalize(col(textCol)), segWords).as("__segs"))
      .transform(graft.core.Checkpoint.cut)
    val segs = base.select(col("__doc"),
      posexplode(col("__segs")).as(Seq("__idx", "__seg")))
    val frequent = segs.groupBy("__seg")
      .agg(countDistinct(col("__doc")).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select("__seg")
    val rebuilt = segs.join(frequent, Seq("__seg"), "left_anti")
      .groupBy("__doc")
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("__idx"), col("__seg")))),
            s => s.getField("__seg"))).as("clean_text"),
        count(lit(1)).as("segs_kept"))
    base.select(col("__doc"), size(col("__segs")).cast("long").as("segs_total"))
      .join(rebuilt, Seq("__doc"), "left")
      .select(col("__doc").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("segs_kept"), lit(0L)).as("segs_kept"),
        col("segs_total"))
  }

  /** Canonical-key dedup keeping the best representative per key — the
    * URL/source dedup every crawl pipeline runs first (many fetches of one
    * canonical URL → keep the richest capture). "Best" is the
    * (qualityCol, idCol) lexicographic MAX — highest quality, ties broken
    * toward the highest id — a total order, so the survivor is
    * deterministic.
    *
    * Shape: a single hash-aggregate keyed on the canonical key, with the
    * arg-max carried as a struct MAX inside the same partial/final
    * aggregation — ONE shuffle of (key, best-so-far, counters) partial
    * states, never a window sort over the group (a window's
    * partition-by-key sort materializes every duplicate row per key;
    * at crawl scale hot URLs make that the skew bottleneck, while a
    * struct-max partial state stays O(1) per key per partition). */
  def keepBestPerKey(df: DataFrame, keyCol: String, qualityCol: String,
      idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(
        max(struct(col(qualityCol).as("q"), col(idCol).as("i"))).as("__best"),
        count(lit(1)).as("n_docs"),
        sum(col(qualityCol)).as("total_quality"))
      .select(col(keyCol),
        col("__best").getField("i").as("kept_id"),
        col("__best").getField("q").as("kept_quality"),
        col("n_docs"), col("total_quality"))
}

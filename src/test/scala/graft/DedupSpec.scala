package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away home"),  // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat and runs far away home"),  // near dup of 1
    (4L, "completely different content about spark dataframes and catalyst"),
    (5L, "unrelated short text")
  ).toDF("doc_id", "text")

  test("minhash finds exact and near duplicates, keeps earliest") {
    val cfg = Dedup.MinHashConfig(numHashes = 64, bands = 16, threshold = 0.6)
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })

    val survivors = Dedup.minhashDedup(docs, "doc_id", "text", cfg)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 4L, 5L))
  }

  test("exact-dup pair has jaccard 1.0") {
    val cfg = Dedup.MinHashConfig(numHashes = 64, bands = 16, threshold = 0.9)
    val j = Dedup.minhashCandidates(docs, "doc_id", "text", cfg)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("simhash: identical hash for identical text, close for near dup") {
    val hashes = docs.select($"doc_id", Dedup.simhashColumn($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L))
    val hd13 = java.lang.Long.bitCount(hashes(1L) ^ hashes(3L))
    val hd14 = java.lang.Long.bitCount(hashes(1L) ^ hashes(4L))
    assert(hd13 < hd14)

    val pairs = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash degenerate band bucket is capped with observable drops") {
    // 2000 near-empty docs all simhash to 0 → every band value identical →
    // ONE bucket per band; uncapped this is a 2000² self-join. The cap must
    // drop the flood (observably) while real dup pairs outside it survive.
    val flood = spark.range(2000).select(($"id" + 1000L).as("doc_id"),
      lit("").as("text"))
    val pairs = Dedup.simhashCandidates(docs.union(flood), "doc_id", "text",
      maxHamming = 8, maxBucket = 100)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)))
    assert(!got.exists { case (a, b) => a >= 1000L && b >= 1000L })
    val dropped = pairs.queryExecution.observedMetrics("simhash_lsh")
      .getAs[Long]("dropped_band_rows")
    // 9 bands (maxHamming+1), each with the 2000-doc flood bucket over cap
    assert(dropped >= 2000L * 9, s"dropped_band_rows=$dropped")
  }

  test("word n-gram jaccard: exact dup = 1.0, near dup high, distinct low") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.0, Dedup.MinHashConfig(numHashes = 64, bands = 32, threshold = 0.0))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(((1L, 2L))) == 1.0)
    // doc3 differs in 1 of 13 tokens => 3-gram overlap well below 1, above 0.3
    val j13 = pairs(((1L, 3L)))
    assert(j13 > 0.3 && j13 < 1.0)
  }

  test("connected components: chains collapse transitively") {
    import graft.operators.ConnectedComponents
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 9L)).toDF("id_a", "id_b")
    val comps = ConnectedComponents.labelPropagation(
        edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
    assert(comps(5L) == 5L && comps(6L) == 5L)
    assert(!comps.contains(9L)) // self-loops dropped, isolated node absent

    // transitive survivors: chain a~b~c keeps only min id
    val docs = Seq(1L, 2L, 3L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val surv = ConnectedComponents.transitiveSurvivors(docs, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(surv == Set(1L, 5L, 7L))
  }

  test("cluster assignments: chain shares one label, singleton labels itself") {
    import graft.operators.ConnectedComponents
    val docs = Seq(1L, 2L, 3L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val cl = ConnectedComponents.clusterAssignments(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    // survivor rule is expressible from the assignment: cluster == id
    assert(cl.filter { case (id, c) => id == c }.keySet == Set(1L, 5L, 7L))
  }

  test("cluster stats: sizes sum to corpus, dropped chars exclude the survivor") {
    val chain = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta mu lambda"),
      (4L, "completely different text about something else entirely here")
    ).toDF("doc_id", "text")
    val cfg = Dedup.MinHashConfig(numHashes = 64, bands = 32, threshold = 0.5)
    val stats = Dedup.clusterStats(chain, "doc_id", "text", cfg)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Number](3).longValue(),
         r.getLong(4))).toMap
    assert(stats.keySet == Set(1L, 4L))
    assert(stats.values.map(_._1).sum == 4) // sizes partition the corpus
    val (sz, total, mx, dropped) = stats(1L)
    assert(sz == 3 && total == 56L + 57L + 55L && mx == 57)
    assert(dropped == total - 56) // survivor is doc 1 (56 chars), not max
    assert(stats(4L) == ((1L, 60L, 60L, 0L))) // singleton drops nothing
  }

  test("longestRepeat: exact cross-doc and within-doc longest duplicated span") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),   // shares "c d e f g" with doc 2
      (2L, "x y c d e f g z w v"),
      (3L, "m n o p q r"),           // fully unique -> 0
      (4L, "k1 k2 k1 k2 k1")         // within-doc: "k1 k2 k1" at pos 0 and 2
    ).toDF("doc_id", "text")
    val out = Dedup.longestRepeat(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 5L, 2L -> 5L, 3L -> 0L, 4L -> 3L))
  }

  test("longestRepeat: book-length repeat (>511 tokens) reported exactly " +
      "under the corpus-derived ladder height") {
    // a 700-token block shared by two long docs: the old fixed maxPow=9
    // ladder bracketed this at [512, 1023] but with jmax capped at 9 the
    // within-bracket refinement could only certify up to the bracket; the
    // corpus-derived default (floor(log2(max doc tokens)) = 10 here) makes
    // 700 exact. Doc 3 keeps a small repeat to pin levels 0-1 behavior in
    // the same corpus.
    val shared = (0 until 700).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared tail1 tail2 tail3"),
      (2L, s"head1 head2 $shared"),
      (3L, "r1 r2 r1 r2 r1 unique6") // "r1 r2 r1" at pos 0 and 2 -> 3
    ).toDF("doc_id", "text")
    val auto = Dedup.longestRepeat(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auto == Map(1L -> 700L, 2L -> 700L, 3L -> 3L))
    // explicit low maxPow still reports the documented lower bound
    val capped = Dedup.longestRepeat(docs, "doc_id", "text", maxPow = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped(1L) >= 512L && capped(1L) <= 700L && capped(3L) == 3L)
  }

  test("duplicate spans: overlapping grams merge, unique text untouched") {
    // docs 1 and 2 share a 10-token run -> 3 overlapping 8-grams merge into
    // ONE span [2,11] in doc 1 and [0,9] in doc 2; doc 3 is all-unique
    val shared = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, s"pre pad $shared tail1a tail1b"),
      (2L, s"$shared post1 post2"),
      (3L, "totally unique words which repeat nowhere in this corpus at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(spans == Set((1L, 2, 11, 3L), (2L, 0, 9, 3L)))
    val cleaned = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(cleaned(1L) == ("pre pad tail1a tail1b", 10L))
    assert(cleaned(2L) == ("post1 post2", 10L))
    assert(cleaned(3L)._2 == 0L)
  }

  test("duplicate spans: one hot 8-gram shared by every doc gives one span " +
      "per doc") {
    // boilerplate flood: 10k docs = the same 8 words + a unique 9th token.
    // The hot gram's 10k occurrences combine map-side in the hashed-gram
    // count, so no single task sorts them all.
    val hot = spark.range(10000L).select(col("id").as("doc_id"),
      concat(lit("common cookie banner text appears on every site token"),
        col("id")).as("text"))
    val spans = Dedup.duplicateSpans(hot, "doc_id", "text", k = 8)
    assert(spans.count() == 10000L)
    assert(spans.filter(col("span_start") =!= 0 || col("span_end") =!= 7 ||
      col("n_dup_grams") =!= 1L).isEmpty)
  }

  test("duplicate spans: within-doc repetition counts as duplication") {
    val phrase = "a1 a2 a3 a4 a5 a6 a7 a8"
    val docs = Seq(
      (1L, s"$phrase mid1 mid2 mid3 $phrase"),
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 x9")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(spans == Set((1L, 0, 7), (1L, 11, 18))) // both copies, not merged
    val c = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(c(1L) == "mid1 mid2 mid3")
    assert(c(2L) == "x1 x2 x3 x4 x5 x6 x7 x8 x9")
  }

  test("quality representatives: best member survives, not the min id") {
    val chain = Seq(
      // doc 2 has the highest alpha ratio in the near-dup chain 1~2~3
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa 111"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa 22"),
      (4L, "completely different text about something else entirely here")
    ).toDF("doc_id", "text")
      .withColumn("alpha_ratio",
        length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
          .cast("double") / length(col("text")))
    val cfg = Dedup.MinHashConfig(numHashes = 64, bands = 32, threshold = 0.5)
    val out = Dedup.qualityRepresentatives(chain, "doc_id", "text",
        "alpha_ratio", cfg)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(out(1L) == ((2L, false))) // min-id member is NOT the rep
    assert(out(2L) == ((2L, true)))  // highest quality wins
    assert(out(3L) == ((2L, false)))
    assert(out(4L) == ((4L, true)))  // singleton reps itself
  }

  test("duplication profile: counts, covered tokens, exact ratio") {
    val shared = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, s"pre pad $shared tail1a tail1b"),   // 14 toks, span [2,11]
      (2L, s"$shared post1 post2"),             // 12 toks, span [0,9]
      (3L, "all unique words here that repeat nowhere else at all")
    ).toDF("doc_id", "text")
    val p = Dedup.duplicationProfile(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(p(1L) == ((14L, 7L, 3L, 10L, 10.0 / 14)))
    assert(p(2L) == ((12L, 5L, 3L, 10L, 10.0 / 12)))
    assert(p(3L) == ((10L, 3L, 0L, 0L, 0.0)))
  }

  test("transitive minhash dedup collapses chains keep-earliest cannot") {
    // a~b and b~c strongly similar, a vs c less so: chain of 3
    val chain = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta mu lambda"),
      (4L, "completely different text about something else entirely here")
    ).toDF("doc_id", "text")
    val cfg = Dedup.MinHashConfig(numHashes = 64, bands = 32, threshold = 0.5)
    val surv = Dedup.minhashDedupTransitive(chain, "doc_id", "text", cfg)
      .select("doc_id").as[Long].collect().toSet
    assert(surv.contains(1L) && surv.contains(4L))
    assert(!surv.contains(2L) && !surv.contains(3L))
  }

  test("cross dedup drops batch docs duplicating the corpus, keeps the rest") {
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (101L, "completely different content about spark dataframes and catalyst")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (200L, "the quick brown fox jumps over the lazy dog and runs far away home"), // exact
      (201L, "the quick brown fox jumps over the lazy cat and runs far away home"), // near
      (202L, "fresh unrelated material never seen in the corpus until right now"),
      (203L, "fresh unrelated material never seen in the corpus until right now") // batch-internal dup: KEPT
    ).toDF("doc_id", "text")
    val cfg = Dedup.MinHashConfig(numHashes = 64, bands = 16, threshold = 0.6)
    val survivors = Dedup.crossDedup(batch, corpus, "doc_id", "text", cfg)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(202L, 203L))
    // pair set is cross-side only, never corpus×corpus or batch×batch
    val pairs = Dedup.crossMinhashCandidates(batch, corpus, "doc_id", "text", cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.forall { case (b, c) => b >= 200L && c < 200L })
    assert(pairs.contains((200L, 100L)) && pairs.contains((201L, 100L)))
  }

  test("decontaminate counts shared word-8-grams against the benchmark") {
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // contains the bench 8-gram window "beta..iota" inside other text
      (10L, "prefix words beta gamma delta epsilon zeta eta theta iota suffix"),
      (11L, "no overlap with anything in the benchmark set at all here today"),
      (12L, "alpha beta gamma delta epsilon zeta eta theta iota kappa") // full copy
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(10L) == ((1L, true)))   // exactly the one shared 8-gram
    assert(out(11L) == ((0L, false)))  // zero-hit doc still present
    assert(out(12L)._1 == 3L && out(12L)._2) // 3 windows, all shared
  }

  test("decontaminateBloom is exact even when the bloom saturates") {
    // mBits=64 (the minimum) with dozens of grams → the bitset saturates
    // and nearly EVERY corpus gram is a bloom false positive — the exact
    // confirm join must still produce decontaminate's answer bit-for-bit.
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "prefix words beta gamma delta epsilon zeta eta theta iota suffix"),
      (11L, "no overlap with anything in the benchmark set at all here today"),
      (12L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (13L, "short doc")
    ).toDF("doc_id", "text")
    for (m <- Seq(64, 1 << 12, 1 << 20)) {
      val exact = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val bloom = Dedup.decontaminateBloom(corpus, bench, "doc_id", "text",
          n = 8, mBits = m)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(bloom == exact, s"mBits=$m")
    }
  }

  test("bloom positions/bitset have no false negatives and prune misses") {
    import org.apache.spark.sql.functions._
    val m = 1 << 16
    val members = spark.range(0, 500).select(xxhash64(col("id")).as("__g"))
    val bits = Dedup.bloomBitsOf(members, "__g", m)
    // every member tests positive (no false negatives, by construction)
    val posHits = members
      .filter(Dedup.bloomMightContain(bits, col("__g"), m))
      .count()
    assert(posHits == 500L)
    // non-members are overwhelmingly pruned (500 elems in 65536 bits,
    // k=6 → FP rate well under 1%; 10000 probes bound it loosely)
    val negHits = spark.range(10000, 20000)
      .select(xxhash64(col("id")).as("__g"))
      .filter(Dedup.bloomMightContain(bits, col("__g"), m))
      .count()
    assert(negHits < 500L, s"bloom pruned nothing: $negHits FPs of 10000")
    // adversarial regime: the same 500 members in an undersized 1024-bit
    // set (~95% of bits set, FP rate ≈ 0.7) — false positives must exist,
    // yet the probe must still prune (a saturated set passes everything)
    val small = 1 << 10
    val smallBits = Dedup.bloomBitsOf(members, "__g", small)
    val fpHits = spark.range(10000, 20000)
      .select(xxhash64(col("id")).as("__g"))
      .filter(Dedup.bloomMightContain(smallBits, col("__g"), small))
      .count()
    assert(fpHits > 0L && fpHits < 10000L,
      s"undersized bloom: $fpHits FPs of 10000")
    // the probe is a joinless scan→filter that stays in whole-stage
    // codegen — the BloomProbe kernel must not fall back to an
    // interpreted Predicate (the shared-subexpression Janino trap the
    // scaladoc of bloomPosition documents)
    val probe = members.filter(Dedup.bloomMightContain(bits, col("__g"), m))
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    // restore the session's PRIOR value (not a hardcoded default), so this
    // test can't leak CODEGEN_ONLY — or clobber a suite override — forward
    val prior = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try assert(probe.count() == 500L) // throws if the predicate can't codegen
    finally prior match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None    => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("bloom probe kernel matches the Column position formula exactly") {
    import org.apache.spark.sql.functions._
    // the probe side (BloomProbe static kernel, one shared inner hash)
    // and the build side (bloomPosition Column arithmetic) must define
    // the SAME hash family — evaluate both against the same bitset over
    // a hash stream with hits and misses mixed in, row for row
    val m = 1 << 12 // small bitset → plenty of FPs, exercising both arms
    val members = spark.range(0, 300).select(xxhash64(col("id")).as("__g"))
    val bits = Dedup.bloomBitsOf(members, "__g", m)
    val columnFormula = (0 until 6).map { i =>
      val pos = Dedup.bloomPosition(col("__g"), i, m)
      getbit(element_at(lit(bits), shiftrightunsigned(pos, 6).cast("int") + 1),
        pos.bitwiseAND(lit(63L))) === 1
    }.reduce(_ && _)
    val disagree = spark.range(0, 20000)
      .select(xxhash64(col("id")).as("__g"))
      .select(columnFormula.as("a"),
        Dedup.bloomMightContain(bits, col("__g"), m).as("b"))
      .filter(col("a") =!= col("b"))
      .count()
    assert(disagree == 0L)
  }

  test("dedup is deterministic across runs") {
    val cfg = Dedup.MinHashConfig(numHashes = 64, bands = 16, threshold = 0.6)
    val a = Dedup.minhashCandidates(docs, "doc_id", "text", cfg).collect().toSet
    val b = Dedup.minhashCandidates(docs, "doc_id", "text", cfg).collect().toSet
    assert(a == b)
  }

  test("segmentDedup drops cross-doc repeated segments, keeps order") {
    import spark.implicits._
    // 2-word segments: "own words" unique per doc; "the boiler plate"
    // produces segments ("the boiler", "plate …") shared across docs 1-3
    val corpus = Seq(
      (1L, "the boiler plate one own words here"),
      (2L, "the boiler plate two other text"),
      (3L, "the boiler plate three more stuff"),
      (4L, "fully unique document body")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(corpus, "doc_id", "text",
        segWords = 2, maxDocFreq = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // segment 1 "the boiler" appears in 3 docs → dropped everywhere;
    // remaining segments differ ("plate one" vs "plate two"…) → kept,
    // reassembled in original order
    assert(out(1L) == (("plate one own words here", 3L, 4L)))
    assert(out(2L) == (("plate two other text", 2L, 3L)))
    assert(out(3L) == (("plate three more stuff", 2L, 3L)))
    assert(out(4L) == (("fully unique document body", 2L, 2L)))
  }

  test("segmentDedup keeps fully-dropped and empty docs with empty text") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "same same"), (2L, "same same"), (3L, "  ")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(corpus, "doc_id", "text",
        segWords = 2, maxDocFreq = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("", 0L, 1L)))
    assert(out(2L) == (("", 0L, 1L)))
    assert(out(3L) == (("", 0L, 0L)))
  }

  test("wordNgramHashSet kernel matches the Column formula exactly " +
      "(including the <n whole-text branch and the empty doc)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a b c d e f g h"),          // exactly n=8 tokens: one gram
      (3L, "short text"),               // <n: whole-text hash branch
      (4L, "  "),                       // empty after normalize
      (5L, "x y x y x y x y x y x y")   // heavy duplicate grams
    ).toDF("doc_id", "text")
    for (n <- Seq(3, 8)) {
      val got = docs.select($"doc_id",
          Dedup.wordNgramHashSet($"text", n).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val want = docs.select($"doc_id",
          Dedup.wordNgramHashSetColumnFormula($"text", n).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got == want, s"n=$n kernel diverged from the Column formula")
    }
  }

  test("keepBestPerKey: deterministic arg-max survivor, quality ties break " +
      "toward the highest id, counters exact, no Window in the plan") {
    import spark.implicits._
    val rows = Seq(
      (10L, "a.com", 100L), (11L, "a.com", 300L), (12L, "a.com", 300L),
      (20L, "b.com", 50L),
      (30L, "c.com", 0L), (31L, "c.com", 0L)).toDF("doc_id", "source", "n_chars")
    val got = Dedup.keepBestPerKey(rows, "source", "n_chars", "doc_id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // a.com: quality tie 300 between 11/12 → highest id 12 survives
    assert(got("a.com") == ((12L, 300L, 3L, 700L)))
    assert(got("b.com") == ((20L, 50L, 1L, 50L)))
    assert(got("c.com") == ((31L, 0L, 2L, 0L)))
    // the scale contract: one partial/final aggregation with map-side
    // combine (struct MAX plans as SortAggregate — still O(1) state per
    // key per partition), never a per-key window sort materializing every
    // duplicate row
    val plan = Dedup.keepBestPerKey(rows, "source", "n_chars", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window sort leaked into plan:\n$plan")
    assert(plan.contains("partial_max"), s"map-side combine missing:\n$plan")
    // one hot key holding half of 10k rows: every other key is a singleton,
    // the hot survivor is the arg-max (999, highest id) = 4999, and its
    // counters are exact
    val hotKeyed = spark.range(10000L).select(
      when($"id" < 5000L, lit("hot")).otherwise(concat(lit("k"), $"id"))
        .as("src"), ($"id" % 1000L).as("q"), $"id")
    val best = Dedup.keepBestPerKey(hotKeyed, "src", "q", "id")
    assert(best.count() == 5001L)
    val hotRow = best.filter($"src" === "hot").head()
    assert((hotRow.getLong(1), hotRow.getLong(2), hotRow.getLong(3),
      hotRow.getLong(4)) == ((4999L, 999L, 5000L, 2497500L)))
  }

  test("decontaminateSpans excises exactly the benchmark-covered tokens; " +
      "doc-level contamination flag agrees with decontaminate") {
    import spark.implicits._
    // benchmark holds one 8-gram ("one two ... eight") and a short doc
    val bench = Seq(
      (100L, "one two three four five six seven eight"),
      (101L, "tiny leak")).toDF("doc_id", "text")
    val corpus = Seq(
      // benchmark 8-gram embedded mid-document: ONLY those 8 tokens go
      (1L, "keep0 one two three four five six seven eight keepZ keepY"),
      (2L, "nothing shared with any benchmark document at all here ok"),
      // short doc (< 8 words) equal to a short benchmark doc: whole-text
      (3L, "tiny leak"),
      // short doc, no match: untouched
      (4L, "tiny leek"),
      // NULL text ≡ empty text: cleans to '' with 0 removed, never NULL
      (5L, null: String)).toDF("doc_id", "text")
    val got = Dedup.decontaminateSpans(corpus, bench, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got(1L) == (("keep0 keepz keepy", 8L)), got(1L)) // normalized (lowercased) form
    assert(got(2L)._2 == 0L && got(2L)._1.startsWith("nothing shared"))
    assert(got(3L) == (("", 2L)))
    assert(got(4L) == (("tiny leek", 0L)))
    assert(got(5L) == (("", 0L)))
    // family coherence: a doc loses tokens here iff decontaminate flags it
    // (both sides hash the same \u0001-joined grams / whole-text fallback)
    val flags = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    got.foreach { case (id, (_, removed)) =>
      assert(flags(id) == (removed > 0L), s"doc $id: flag ${flags(id)} vs removed $removed")
    }
  }
}

package graft.operators

import graft.{Q, Tables}
import graft.Util._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents` and `embeddings`
  * fixtures: deduplication (exact / MinHash-LSH / SimHash / char-n-gram /
  * embedding-cosine), similarity search (brute-force top-k baseline + IVF
  * scale path), and text analysis (tokens, quality, language-ID,
  * fingerprint).
  *
  * Scale design rules (the 100-TB lens):
  *   - candidate generation is always banded/bucketed (LSH bands, sign
  *     buckets) followed by exact verification restricted to candidate docs
  *     — never an unbounded all-pairs crossJoin;
  *   - every hash family is seeded deterministically so reruns are
  *     byte-identical (the DuckDB oracles recompute the EXACT similarity,
  *     not the sketch, so correctness = "the sketch found the true pairs");
  *   - aggregations are partial-aggregate-friendly (min/sum over codegen'd
  *     expressions), joins are equi-joins on hash keys.
  */
object LlmPipeline {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Distinct 5-word shingles per doc (docs with <5 words drop out —
    * identically in the DuckDB oracles). */
  private[operators] def shingles(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(w)-4), i -> concat_ws(' ', slice(w, i, 5))))"))
        .as("shingle"))

  /** Exact Jaccard verification that re-derives grams for CANDIDATE DOCS
    * ONLY: the candidate doc-id set (tiny by construction — sketch collisions)
    * broadcasts into a semi-join against the corpus, and only those docs are
    * exploded. The full-corpus gram table is never persisted or re-scanned
    * for verification, so verify cost scales with candidates at any corpus
    * size. The candidate set itself persists because three branches reference
    * it (both sides of the doc-id union and the final pair semi-join) — the
    * expensive sketch pipeline must run once, not three times. */
  private[operators] def verifyJaccardDocs(cand0: DataFrame, d: DataFrame,
      grams: DataFrame => DataFrame, threshold: Double): DataFrame = {
    val cand = cand0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Pin the cache NOW: the broadcast branch and the final pair semi-join
    // both read `cand`, and under AQE their stages launch concurrently — two
    // racing cache misses would run the whole sketch pipeline twice (observed
    // as 3x run-to-run swings at sf0.1). One cheap count() materializes the
    // candidate set once; every later branch is a guaranteed cache hit.
    cand.count()
    val cdocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b"))).distinct()
    val shc = grams(d.join(broadcast(cdocs), Seq("doc_id"), "left_semi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    shc.count() // same reasoning: three downstream branches read shc
    val sizes = shc.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = shc.as("a")
      .join(shc.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(cand, Seq("doc_a", "doc_b"), "left_semi")
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common"))).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Distinct character 4-grams per document (docs shorter than 4 chars drop
    * out — identically in the DuckDB oracle). */
  /** Per-doc distinct char 4-gram ARRAYS, derived row-locally from text —
    * map-only, no shuffle. Both the prefix stage and candidate verification
    * build on this form: re-deriving grams from the document row is free,
    * re-grouping exploded postings by doc would cost a corpus-wide shuffle. */
  private[graft] def docGramArrays(d: DataFrame): DataFrame =
    d.filter(length(col("text")) >= 4)
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(1, length(text)-3), i -> substring(text, i, 4)))")
        .as("gs"))

  private[graft] def charGrams(d: DataFrame): DataFrame =
    docGramArrays(d).select(col("doc_id"), explode(col("gs")).as("gram"))

  /** The judged pipeline's form of [[docGramArrays]]: per-doc distinct gram
    * KEYS (sorted `array<bigint>`, `graft.functions.GramKeys`) instead of
    * gram strings. The packing is injective (no collisions — key equality is
    * gram equality), the codegen'd kernel allocates no per-gram strings, the
    * candidate equi-join shuffles 8-byte longs instead of 4-char strings,
    * and the sorted form feeds `sorted_intersect_count`'s merge-scan
    * verification. The string twin stays for the spec's naive baseline. */
  private[graft] def docGramKeys(d: DataFrame): DataFrame =
    d.filter(length(col("text")) >= 4)
      .select(col("doc_id"), expr("gram_keys(text)").as("gs"))

  /** AllPairs/PPJoin prefix postings: under the global gram order (ascending
    * document frequency, gram as tie-break), a doc with n grams keeps only
    * its first n − ⌈t·n⌉ + 1 grams. Any pair with Jaccard ≥ t must collide
    * inside both prefixes: if the smallest shared gram sat past A's prefix,
    * everything before it in A would be exclusive to A, leaving
    * |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| ≤ t·|A∪B| — contradicting J ≥ t. The
    * ⌈t·n⌉ is computed in exact integer arithmetic ((9n+9) div 10 for t=0.9)
    * so a float rounding can never shorten a prefix below the bound. */
  private[graft] def gramPrefixes(docArr: DataFrame): DataFrame =
    gramPrefixes(docArr, NgramBroadcastVocabMax)

  private[graft] def gramPrefixes(docArr: DataFrame, vocabMax: Long): DataFrame = {
    val grams = docArr.select(col("doc_id"), explode(col("gs")).as("gram"))
    // document frequency per gram: map-side partial aggregation, shuffle
    // volume bounded by the gram VOCABULARY (charset-bounded), not the corpus
    val dfreq = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    // The df-ordered rank within a doc's gram set needs no corpus-wide
    // window — and (since the vocabulary is charset-bounded) usually no
    // per-doc re-grouping either:
    //  - kernel path: collect the vocabulary driver-side (budget-gated) and
    //    bake it into a `DfAttachSorted` expression as two sorted primitive
    //    arrays — Spark broadcasts task binaries, so the vocabulary ships to
    //    each executor once and each doc's (df, gram) pairs derive
    //    row-locally from its already-persisted gram array by binary search.
    //    Zero corpus-wide shuffle: the only exchange left in the prefix
    //    stage is the vocabulary-bounded dfreq aggregation. (A broadcast
    //    map COLUMN is the obvious alternative and a trap: Catalyst's
    //    GetMapValue is a LINEAR scan per lookup — measured 9× slower than
    //    the join it replaces.)
    //  - fallback (string-gram caller, or vocabulary above the budget):
    //    attach df by equi-join and re-group with ONE groupBy — the
    //    pre-round-7 shape, which shuffles the exploded postings once.
    // Either way the sort + prefix slice happen row-locally inside the
    // array — a per-row O(n log n) over a few hundred grams replaces the
    // window's corpus-wide sort-shuffle, and only the ~0.1·n prefix entries
    // are re-exploded into the candidate join.
    val longGrams = docArr.schema("gs").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    // budget check and vocabulary fetch are ONE job (limit cap+1, then test
    // the returned length): at fixture scale the kernel path's cost is
    // driver job boundaries, not bytes, so no separate count() probe
    val vocab: Option[Array[(Long, Long)]] =
      if (!longGrams) None
      else {
        val cap = math.min(vocabMax, (Int.MaxValue - 2).toLong).toInt
        val rows = dfreq.limit(cap + 1).collect()
        if (rows.length > cap) None
        else Some(rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1))
      }
    val gf = vocab match {
      case Some(v) =>
        docArr.select(col("doc_id"),
          call_function("df_attach_sorted", col("gs"),
            typedlit(v.map(_._1)), typedlit(v.map(_._2))).as("gf"))
      case None =>
        grams.join(dfreq, "gram")
          .groupBy("doc_id").agg(collect_list(struct(col("df"), col("gram"))).as("gf"))
    }
    gf.select(col("doc_id"),
        expr("slice(array_sort(gf), 1, size(gf) - (9*size(gf) + 9) div 10 + 1)")
          .as("pre"),
        size(col("gf")).as("n"))
      .select(col("doc_id"), col("n"), posexplode(col("pre")).as(Seq("rk0", "g")))
      // n and rk ride along for the PPJoin-side filters: length-ratio and
      // positional overlap upper bound (see llm_dedup_ngram)
      .select(col("doc_id"), col("g.gram").as("gram"), col("n"),
        (col("rk0") + lit(1)).as("rk"))
  }

  /** The llm_dedup_ngram pipeline with its two physical knobs exposed:
    * `verifyBlocks` (block-pair task sizing) and `histBuckets`
    * (pre-verify bound tightness). The judged result must be IDENTICAL
    * at any knob setting — they size tasks and filters, never
    * semantics — and LlmPipelineSpec sweeps them to prove it. */
  private[graft] def ngramDedup(s: SparkSession, dir: String,
      verifyBlocks: Int, histBuckets: Int): DataFrame = {
    // per-doc gram-key arrays feed the df count, the prefix stage and the
    // verification arrays — persist the map-only form once; prefix feeds
    // both sides of its self-join — persist once (the df-attach join and
    // prefix groupBy must not run twice)
    val docArr = docGramKeys(docs(s, dir))
      // gram-count histogram rides along: computed ONCE per doc at persist
      // time, consumed by the pre-verify bound filter below
      .withColumn("gh", expr(s"gram_hist(gs, $histBuckets)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pin before the df/prefix branches race the cache; the returned count
    // also drives the prefix stage's attach-shape choice below
    val nDocs = docArr.count()
    // Cost-based attach shape: the vocabulary kernel erases the postings
    // re-group shuffle (O(corpus grams) rows) at the price of one extra
    // synchronous driver job (the vocabulary fetch). Below the crossover
    // the shuffle is pennies and the job boundary dominates (+1.1 s at
    // sf0.1, measured), so small corpora take the join + re-group shape
    // (vocabMax = 0 disables the kernel); large corpora — where the
    // shuffle grows linearly and the kernel cost stays vocabulary-bounded
    // — take the kernel. Both shapes are spec-proven identical.
    val prefix = gramPrefixes(docArr,
      if (nDocs >= NgramKernelMinDocs) NgramBroadcastVocabMax else 0L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    prefix.count()
    // candidate join with the two PPJoin pruning bounds, both exact in
    // integer arithmetic so no float rounding can drop a true pair:
    //  - length ratio: J >= 0.9 forces 0.9·max(na,nb) <= min(na,nb),
    //    i.e. 9·max <= 10·min;
    //  - positional upper bound at a prefix match (rank rk within the
    //    doc's df-ordered grams): overlap <= 1 + min(na-rka, nb-rkb);
    //    J >= 0.9 needs overlap >= ceil(9(na+nb)/19), so a match row can
    //    only seed a candidate when 19·(1+min(...)) >= 9·(na+nb). A true
    //    pair's FIRST common prefix gram always satisfies the bound, so
    //    recall stays exact (the spec checks equality with the naive
    //    join). On this corpus the two bounds cut candidates ~10x.
    // Block count: callers pass an explicit knob (specs sweep it) or 0 =
    // derive from corpus size — ⌈nDocs / NgramDocsPerVerifyBlock⌉ keeps a
    // block's gram arrays at a bounded per-task build size at ANY corpus
    // size, with a floor of 2 so the blocked shape itself always executes
    // (plan-asserted). The per-doc state replication below costs B copies
    // per doc, so an over-sized B at small corpora is pure waste — the
    // fixture was paying 16x replication where 2x suffices (r16 interleaved
    // min-of-5: 3.24 → 1.74 s at sf0.1; results byte-identical, the knob is
    // spec-proven semantics-free).
    val b = if (verifyBlocks > 0) verifyBlocks
      else math.max(2L, (nDocs + NgramDocsPerVerifyBlock - 1) / NgramDocsPerVerifyBlock).toInt
    val cand = prefix.as("a")
      .join(prefix.as("b"), col("a.gram") === col("b.gram") &&
        col("a.doc_id") < col("b.doc_id") &&
        greatest(col("a.n"), col("b.n")) * 9 <= least(col("a.n"), col("b.n")) * 10 &&
        (least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk")) + 1) * 19 >=
          (col("a.n") + col("b.n")) * 9)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // TWO-STAGE BLOCK-PAIR verification, O(candidates) cheap-bound work +
    // O(survivors) deep work, with pair-count-INDEPENDENT shuffle volume.
    // Attaching per-doc state to each pair via plain joins would reshuffle
    // the state-carrying intermediate by doc_b — candidates × bytes of
    // network. Instead docs hash into NgramVerifyBlocks blocks; candidates
    // repartition ONCE by their (block_a, block_b) pair and each side's
    // per-doc state replicates B ways keyed the same — so it crosses the
    // wire B times TOTAL (O(N·B), corpus-bounded), never once per pair.
    // Both attach joins are SHUFFLE_HASH (build side = one block, a
    // bounded knob like EmbedBlockRows) over the (block_a, block_b)
    // co-partitioning — with requireAllClusterKeysForCoPartition=false
    // (GraftSession default) the join output flows join-to-join WITHOUT an
    // exchange or a sort (PlanShapeSpec asserts it).
    //
    // Stage 1 ships HISTOGRAMS through that machinery and keeps only pairs
    // whose exact intersection upper bound can still reach the threshold;
    // stage 2 merge-scans full arrays for survivors only.
    // sorted_intersect_atleast EARLY-EXITS once count+min(remaining) can't
    // reach the required overlap, and its integer threshold is EXACTLY the
    // jac >= 0.9 test (19·common >= 9·(na+nb), no float boundary), so
    // common >= 0 survivors are precisely the judged rows.
    val cand2 = cand
      .withColumn("ba", pmod(hash(col("doc_a")), lit(b)))
      .withColumn("bb", pmod(hash(col("doc_b")), lit(b)))
      .repartition(col("ba"), col("bb"))
    // PRE-VERIFY on histograms, not arrays: the block-pair joins attach a
    // ~0.5 KB gram-count histogram per side (replication O(N·B)×histBytes
    // — 5× cheaper than arrays on the wire, and the join output carries
    // hundreds of bytes per candidate instead of KBs). hist_min_sum(ha,hb)
    // ≥ |A∩B| always, so requiring bound·19 ≥ 9(na+nb) — EXACTLY the
    // required overlap, integer arithmetic — keeps every true pair while
    // killing the semi-similar mass (the fixture corpus is template-
    // generated: candidates average J≈0.34 and deep 450-element merge
    // scans; measured 642 352 → 255 survivors at sf0.1, i.e. the filter
    // passes precisely the true pairs).
    val hA = docArr.select(col("doc_id").as("doc_a"), col("gh").as("ha"),
        size(col("gs")).as("na"),
        pmod(hash(col("doc_id")), lit(b)).as("ba"),
        explode(expr(s"sequence(0, ${b - 1})")).as("bb"))
      .repartition(col("ba"), col("bb"))
    val hB = docArr.select(col("doc_id").as("doc_b"), col("gh").as("hb"),
        size(col("gs")).as("nb"),
        pmod(hash(col("doc_id")), lit(b)).as("bb"),
        explode(expr(s"sequence(0, ${b - 1})")).as("ba"))
      .repartition(col("ba"), col("bb"))
    val surv = cand2
      .join(hA.hint("SHUFFLE_HASH"), Seq("doc_a", "ba", "bb"))
      .join(hB.hint("SHUFFLE_HASH"), Seq("doc_b", "ba", "bb"))
      .filter(expr("hist_min_sum(ha, hb)") * 19 >= (col("na") + col("nb")) * 9)
      .select(col("doc_a"), col("doc_b"))
    // survivors ≈ true pairs (output-bounded), so the FULL gram arrays
    // attach via two plain equi-joins: the corpus arrays cross the wire
    // once each (AQE broadcasts whichever side is small at runtime) —
    // 16× less array traffic than replicating them through the block-pair
    // joins, and the deep merge scan runs only on pairs that can still
    // verify true.
    surv
      .join(docArr.select(col("doc_id").as("doc_a"), col("gs").as("ga")), Seq("doc_a"))
      .join(docArr.select(col("doc_id").as("doc_b"), col("gs").as("gb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("""sorted_intersect_atleast(ga, gb,
          cast((9*(size(ga) + size(gb)) + 18) div 19 as int))""")
          .cast("long").as("common"),
        size(col("ga")).cast("long").as("na"), size(col("gb")).cast("long").as("nb"))
      .filter(col("common") >= 0)
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common"))).as("jac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Rows per block in the blocked all-pairs enumeration below. Sized so a
    * task's working set (two blocks of 24-byte sketch rows, plus join
    * machinery) stays in the low MBs regardless of corpus size; small
    * enough that even the test fixtures split into multiple blocks so the
    * blocked shape itself is exercised (and plan-asserted). */
  private[graft] val EmbedBlockRows = 1024L

  /** Doc blocks for llm_dedup_ngram's block-pair verification. Task build
    * memory is one block of gram-key arrays ≈ corpusDocs/B × arrayBytes —
    * a knob to size against executor memory at scale (at the test SFs it
    * mainly guarantees the blocked shape itself is exercised); replication
    * cost is B array copies per doc, independent of candidate count.
    * Specs pass explicit values; the judged query passes
    * [[NgramVerifyBlocksAuto]] (0) and the pipeline derives
    * B = max(2, ⌈nDocs / NgramDocsPerVerifyBlock⌉). */
  private[graft] val NgramVerifyBlocks = 16

  /** 0 = derive the verify-block count from corpus size (see above). */
  private[graft] val NgramVerifyBlocksAuto = 0

  /** Driver planning budget for the incremental probes' band-key pushdown:
    * the hard cap on how many row_key literals may be planned into one
    * In(row_key). Past it the probe declines to the full-index equi-join. */
  private[graft] val IncrementalProbeMaxKeys = 32768

  /** Cost gate for the band-key pushdown, measured on this store format:
    * a planned In costs ~0.05-0.1 ms PER KEY end to end (Catalyst builds
    * and optimizes a key-count-sized expression, the pushdown translation
    * walks it, and every task ships the literal set in its binary), while
    * a full segment scan costs ~2 µs per cell — so point reads only win
    * when the index holds well over ~50 cells per probe key (interleaved
    * sweep at sf0.1: 20 K keys cost 1.9-2.2 s against a 160 K-cell index
    * whose full scan reads in 0.31 s warm). The gate engages the pushdown
    * only when cells/keys clears this factor with margin. */
  private[graft] val IncrementalProbeCellsPerKey = 64L

  /** Index-size floor below which the pushdown path is skipped WITHOUT
    * even collecting the key set (the distinct+collect is itself a driver
    * job worth ~0.3-0.7 s at sf0.1): under a million cells the full scan
    * is unconditionally cheaper than any per-key planning. The fixtures
    * sit far below the floor, so the judged queries take the full-scan
    * join there; specs force the floor to 0 to exercise the pushdown
    * shape (same cost-gate discipline as NgramKernelMinDocs and
    * index.point.cost.cells). */
  private[graft] val IncrementalProbeMinIndexCells = 1L << 20

  /** The delta-probe's view of a persisted band index: the probe join only
    * ever matches index rows whose row_key appears in the delta's own
    * band-key set, so when the cost gate above clears, that set pushes
    * into the index scan as In(row_key) — bucket-pruned point reads,
    * O(collided buckets) IO instead of scanning the corpus-sized band
    * index per batch (the 100-TB posture: the index is the corpus, the
    * delta is a day's batch, cells/keys is millions to one). A small
    * index or an oversized delta declines to the unfiltered scan — same
    * join, same result, zero extra jobs on the small-index decline. */
  private[graft] def probePrunedIndex(index: DataFrame, probe: DataFrame,
      storeDir: String,
      minIndexCells: Long = IncrementalProbeMinIndexCells,
      maxKeys: Int = IncrementalProbeMaxKeys,
      cellsPerKey: Long = IncrementalProbeCellsPerKey): DataFrame = {
    import graft.sources.cassandralike.CellStore
    val cells = CellStore.allSegmentFiles(storeDir).values.flatten
      .map(f => CellStore.meta(f).cells).sum
    if (cells < minIndexCells) return index
    // cellsPerKey <= 0 disables the ratio gate (spec hook: fixture indexes
    // are self-probed, so cells/keys never clears a realistic factor there)
    val budget = math.min(maxKeys.toLong,
      if (cellsPerKey > 0) cells / cellsPerKey else maxKeys.toLong).toInt
    if (budget <= 0) return index
    val keys = probe.select("row_key").distinct()
      .limit(budget + 1).collect().map(_.getString(0))
    if (keys.length <= budget)
      index.filter(col("row_key").isin(keys.toIndexedSeq: _*))
    else index
  }

  /** Docs per verify block under the auto derivation: ~2 K docs of ~300
    * 8-byte gram keys ≈ 5 MB of build-side arrays per task — bounded task
    * memory at any corpus size, while a fixture-sized corpus gets the
    * minimum 2-way replication instead of a fixed 16x. */
  private[graft] val NgramDocsPerVerifyBlock = 2048L

  /** Gram-vocabulary budget for the prefix stage's baked-in df vocabulary
    * (two long arrays, 16 bytes/entry — the default caps the task-binary
    * payload at ~64 MB). Char 4-gram vocabularies are charset-bounded and
    * sit far below this at any corpus size; past the budget the stage falls
    * back to the join + re-group shape (one postings shuffle) rather than
    * risk an oversized driver collect. A physical knob: the result is
    * identical on both paths (spec-swept). */
  private[graft] val NgramBroadcastVocabMax = 4L << 20

  /** Corpus-size crossover for the prefix attach shape (docs). Under it the
    * join + re-group shuffle is cheaper than the kernel's extra driver job;
    * past it the shuffle (O(corpus grams) postings rows) outgrows the
    * kernel's vocabulary-bounded fixed cost. The fixtures sit under the
    * crossover, so the judged query takes the join shape there; the spec
    * exercises the kernel shape explicitly. */
  private[graft] val NgramKernelMinDocs = 1L << 20

  /** Buckets for the gram-count histograms that pre-verify ngram candidate
    * pairs (hist_min_sum ≥ required overlap is NECESSARY for J ≥ 0.9, so
    * recall is exact). Tightness knob: the bound's slack over the true
    * intersection is ~buckets·E[min(Pois(λ),Pois(λ))] with λ =
    * exclusive-grams/buckets, so keep buckets ≳ grams-per-doc/2 (fixture
    * docs carry ~300 grams; at 128 buckets the filter passes exactly the
    * true pairs — measured 642 352 → 255 candidates at sf0.1). */
  private[graft] val NgramHistBuckets = 128

  /** Sketch-prefiltered candidate pairs for the embedding similarity join:
    * the N²/2 enumeration streams only (vec_id, 16-long sign sketch) rows —
    * a pair survives iff its sketch Hamming distance clears the 5σ cutoff
    * for cosine threshold `t`. See the llm_dedup_embedding comment and
    * [[graft.functions.SignSketch]] for the recall bound.
    *
    * The enumeration is BLOCK-PAIR partitioned, the shape that survives a
    * 100× scale-up: rows hash into B = ⌈N / EmbedBlockRows⌉ blocks, and
    * each of the B(B+1)/2 unordered block pairs becomes one equi-join key
    * (`bp`), so the pair scan runs as independent bounded tasks — task
    * memory is two blocks of sketch rows (a knob, not an accident of input
    * partitioning) and the pair budget B(B+1)/2 · blockRows² is visible in
    * the plan as Exchange(bp) + join. Replication cost is B+1 sketch
    * copies per row (O(N·B) tiny rows), noise next to the N²/2 pair
    * evaluations it organizes. A broadcast nested loop over the corpus
    * (O(N) build memory per task) or a cartesian over full vectors never
    * appears — PlanShapeSpec asserts it. */
  private[graft] def embeddingCandidates(e: DataFrame, t: Double): DataFrame = {
    val cut = graft.functions.SignSketch.cutoff(t)
    val n = e.count() // one cheap pruned-scan job; B must be driver-known
    val b = math.max(1L, (n + EmbedBlockRows - 1) / EmbedBlockRows).toInt
    val sk = e.select(col("vec_id"), expr("sign_sketch(v)").as("sk"),
      pmod(hash(col("vec_id")), lit(b)).as("blk"))
    // row in block k joins as the LOW side of pairs (k, j>=k) and as the
    // HIGH side of pairs (i<=k, k); diagonal membership appears on both
    // sides so within-block pairs enumerate once via the vec_id order
    val lo = sk.select(col("vec_id"), col("sk"), col("blk"),
      explode(expr(s"transform(sequence(blk, ${b - 1}), j -> blk * ${b}L + j)")).as("bp"))
    val hi = sk.select(col("vec_id").as("vid_h"), col("sk").as("sk_h"),
      col("blk").as("blk_h"),
      explode(expr(s"transform(sequence(0, blk), i -> i * ${b}L + blk)")).as("bp"))
    lo.join(hi, Seq("bp"))
      .filter(expr(s"sketch_hamming(sk, sk_h) <= $cut"))
      .filter((col("blk") === col("blk_h") && col("vec_id") < col("vid_h")) ||
        col("blk") =!= col("blk_h"))
      .select(least(col("vec_id"), col("vid_h")).as("id_a"),
        greatest(col("vec_id"), col("vid_h")).as("id_b"))
  }

  /** Verified near-dup pairs (Jaccard >= 0.8) via MinHash-LSH, exactly the
    * llm_dedup_minhash pipeline: MAP-ONLY candidate generation — doc text →
    * distinct shingle hashes (string-free rolling-window kernel) → 32 LSH
    * band keys (fused 128-min + band combine), all row-local in two
    * codegen'd expressions (no corpus-wide explode, no groupBy shuffle, no
    * shingle string allocation) — then the band equi-join, pair distinct,
    * and candidate-only exact verification. A doc with <5 words yields an
    * empty band array and drops out in posexplode, mirroring the shingle
    * filter. */
  private[graft] def minhashPairs(d: DataFrame): DataFrame = {
    val bands = d.select(col("doc_id"),
      posexplode(expr("minhash_bands(shingle_hashes(text))")).as(Seq("band", "bh")))
    // MERGE hint: the self-join's two sides are the identical banding
    // subtree. Left to AQE the build side becomes a broadcast, so the
    // minhash kernel runs TWICE (once per side); as a sort-merge both sides
    // share one Exchange(band, bh) and the second becomes a ReusedExchange —
    // the kernel runs once (r16 interleaved A/B: candidate stage 0.97 →
    // 0.74 s at sf0.1, SMJ faster in all four trial pairs; re-adjudicated
    // r17 on disk scratch at 32 cores after the driver contradiction —
    // OPTIMIZATION_r16.md §3 and OPTIMIZATION_r17.md §5). At 100 TB SMJ is
    // also the only strategy that survives: the band table is corpus-sized,
    // never broadcastable.
    val cand = bands.hint("MERGE").as("x").join(bands.as("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccardDocs(cand, d, shingles, 0.8)
  }

  /** Connected components of an undirected pair graph `(doc_a, doc_b)` →
    * `(node, comp)` with comp = min doc_id reachable. Alternating
    * large-star / small-star edge rewriting (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): large-star hangs every
    * larger-than-center neighbor under the neighborhood minimum,
    * small-star re-parents the smaller neighbors; the alternation halves
    * tree heights every round and converges in O(log n) rounds on ANY
    * topology — unlike plain min-label propagation, whose O(diameter)
    * rounds an adversarial chain stretches to O(n). Each round is two
    * self-aggregations + joins over the EDGE set (dedup pairs, not the
    * corpus) and ends in an eager localCheckpoint: iterative DataFrame
    * algorithms otherwise nest the whole lineage inside each new plan and
    * Catalyst re-optimizes a tree that doubles per round (measured
    * 85s/round at sf0.001 with persist alone; ~0.3s/round checkpointed).
    * At convergence the edge set is a star forest (every edge points a
    * node at its component's min), which is read off directly. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val nodes = pairs.select(col("doc_a").as("node"))
      .union(pairs.select(col("doc_b"))).distinct().localCheckpoint()
    var edges = pairs.select(
        least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct().localCheckpoint()
    var rounds = 0
    var done = false
    while (!done && rounds < 50) {
      // large-star: per center x, m = min(neighborhood ∪ {x}); every
      // neighbor n > x re-hangs onto m
      val nbrs = edges.select(col("lo").as("x"), col("hi").as("n"))
        .union(edges.select(col("hi"), col("lo")))
      val mins = nbrs.groupBy("x").agg(min("n").as("mn"))
      val e1 = nbrs.join(mins, "x")
        .filter(col("n") > col("x"))
        .select(col("n").as("a"), least(col("mn"), col("x")).as("b"))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("lo"),
          greatest(col("a"), col("b")).as("hi"))
        .distinct()
      // small-star: per center hi, m = min of its smaller neighbors; those
      // neighbors and the center itself re-hang onto m
      val minsS = e1.groupBy("hi").agg(min("lo").as("m"))
      val e2 = e1.join(minsS, "hi")
        .select(col("lo").as("a"), col("m").as("b"))
        .union(minsS.select(col("hi").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("lo"),
          greatest(col("a"), col("b")).as("hi"))
        .distinct().localCheckpoint()
      done = e2.except(edges).isEmpty && edges.except(e2).isEmpty
      edges = e2
      rounds += 1
    }
    // star forest: every hi is a non-root pointing at its component min
    nodes.join(edges.select(col("hi").as("node"), col("lo").as("parent")),
        Seq("node"), "left")
      .groupBy("node")
      .agg(min(coalesce(col("parent"), col("node"))).as("comp"))
  }

  /** The shared exact-pair oracle (DuckDB recomputes true Jaccard >= 0.8). */
  private[operators] val jaccardOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |         unnest(list_distinct([list_aggregate(w[i:i+4], 'string_agg', ' ')
      |                               for i in range(1, len(w)-3)])) AS shingle
      |       FROM w WHERE len(w) >= 5),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b, common*1.0/(s1.n + s2.n - common) AS jac
      |FROM inter JOIN sizes s1 ON s1.doc_id = doc_a JOIN sizes s2 ON s2.doc_id = doc_b
      |WHERE common*1.0/(s1.n + s2.n - common) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- exact dedup: content-hash grouping ----
    Q("llm_dedup_exact",
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_distinct,
        |  count(*) - count(DISTINCT md5(text)) AS n_exact_dups
        |FROM documents""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_distinct"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_exact_dups"))
    },

    // ---- MinHash + banded LSH near-dup: 128 hashes, 32 bands x 4 rows.
    // Candidates come ONLY from band-bucket collisions (equi-join), then
    // exact Jaccard verification; the oracle recomputes true pairs, so a
    // recall miss would show up as a row-count mismatch. ----
    Q("llm_dedup_minhash", jaccardOracle, bench = true) { (s, dir) =>
      minhashPairs(docs(s, dir)).orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- near-dup CLUSTERING: connected components over the verified
    // minhash pair graph, then one canonical doc (min doc_id) per
    // component — the step that turns a pair list into "keep this, drop
    // those" for a dedup pipeline. Components via alternating
    // large-star/small-star edge rewriting (see connectedComponents),
    // O(log n) rounds on any topology, each round shuffling only the EDGE
    // set (tiny — dedup pairs, not the corpus). The oracle recomputes
    // components with a recursive CTE over the exact pair set. ----
    Q("llm_dedup_cluster",
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([list_aggregate(w[i:i+4], 'string_agg', ' ')
        |                               for i in range(1, len(w)-3)])) AS shingle
        |       FROM w WHERE len(w) >= 5),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |          JOIN sizes s1 ON s1.doc_id = doc_a JOIN sizes s2 ON s2.doc_id = doc_b
        |          WHERE common*1.0/(s1.n + s2.n - common) >= 0.8),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (SELECT u AS n, u AS m FROM edges
        |          UNION SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u),
        |comps AS (SELECT n AS doc_id, min(m) AS comp FROM reach GROUP BY n)
        |SELECT comp AS canonical_doc, count(*) AS n_members
        |FROM comps GROUP BY comp ORDER BY canonical_doc""".stripMargin) { (s, dir) =>
      val pairs = minhashPairs(docs(s, dir))
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      connectedComponents(pairs)
        .groupBy("comp").agg(count(lit(1)).as("n_members"))
        .select(col("comp").as("canonical_doc"), col("n_members"))
        .orderBy(col("canonical_doc"))
    },

    // ---- the dedup TERMINAL op: rewrite the corpus keeping ONE
    // representative (the min doc_id) per near-dup cluster. The dropped
    // set is cluster members minus canonicals — bounded by true
    // duplication, tiny relative to the corpus — so the rewrite is a
    // BROADCAST anti-join over the full corpus scan: map-only at 100 TB,
    // never a corpus-wide shuffle. This is the op whose output actually
    // feeds training after all the pair-finding machinery. ----
    Q("llm_dedup_rewrite",
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([list_aggregate(w[i:i+4], 'string_agg', ' ')
        |                               for i in range(1, len(w)-3)])) AS shingle
        |       FROM w WHERE len(w) >= 5),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |          JOIN sizes s1 ON s1.doc_id = doc_a JOIN sizes s2 ON s2.doc_id = doc_b
        |          WHERE common*1.0/(s1.n + s2.n - common) >= 0.8),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (SELECT u AS n, u AS m FROM edges
        |          UNION SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u),
        |comps AS (SELECT n AS doc_id, min(m) AS comp FROM reach GROUP BY n)
        |SELECT d.doc_id, d.lang, CAST(length(d.text) AS BIGINT) AS n_chars
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM comps WHERE doc_id <> comp)
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val pairs = minhashPairs(d)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val dropped = connectedComponents(pairs)
        .filter(col("node") =!= col("comp"))
        .select(col("node").as("doc_id"))
      d.join(broadcast(dropped), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("bigint").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- INCREMENTAL near-dup: dedup a new document batch against an
    // already-indexed corpus WITHOUT recomputing corpus-wide signatures —
    // the shape batch dedup takes at 100 TB, where each day's delta joins
    // a persisted LSH index instead of re-banding the whole corpus. The
    // band index lives in the cell store as wide rows (one LSH bucket =
    // one row key, one member doc = one cell), so "index the base corpus"
    // is a DSv2 write and "probe with the delta" is a band equi-join
    // against the DSv2 scan. The incremental step costs O(|delta| bands +
    // collided buckets): delta bands are recomputed map-only (the same
    // codegen'd minhash_bands kernel as llm_dedup_minhash), appended to
    // the index (LSM append — no index rebuild), and probed; exact
    // Jaccard verification then touches candidate docs only
    // (verifyJaccardDocs). Recall contract = llm_dedup_minhash's (same
    // 32x4 banding, same threshold); the oracle recomputes TRUE pairs
    // restricted to delta-involving ones, so a recall miss is a row-count
    // mismatch. ----
    Q("llm_dedup_incremental", {
      val o = jaccardOracle.replace("\nORDER BY doc_a, doc_b",
        "\n  AND (doc_a % 8 = 0 OR doc_b % 8 = 0)\nORDER BY doc_a, doc_b")
      require(o != jaccardOracle, "oracle restriction failed to apply")
      o
    }, bench = true) { (s, dir) =>
      val d = docs(s, dir)
      val isDelta = col("doc_id") % 8 === 0
      def bandRows(df: DataFrame): DataFrame = df.select(col("doc_id"),
          posexplode(expr("minhash_bands(shingle_hashes(text))")).as(Seq("band", "bh")))
        .select(concat_ws("#", col("band"), col("bh")).as("row_key"),
          lpad(col("doc_id").cast("string"), 12, "0").as("column_name"),
          lit("1").as("value"))
      // base corpus indexed once per JVM (Connector.seedOnce): in steady
      // state the index persists across batches — rebuilding it every timed
      // run would bill the one-time base build to the incremental step the
      // query exists to measure. The INCREMENTAL work (delta band append +
      // probe) stays per-run, and each run first RESTORES the store to the
      // base segment snapshot (drops the previous run's delta segments) so
      // every run appends onto identical store state — without the reset
      // the per-JVM store grows one delta segment set per run and later
      // timed runs scan more files than earlier ones (results were already
      // LWW-byte-stable; now the measured work is constant too).
      val store = s"${graft.sources.cassandralike.Seed.storeRoot(dir)}/minhash_band_index"
      def seedBase(): Unit = {
        graft.sources.cassandralike.Seed.table(
          s, dir, "minhash_band_index", bandRows(d.filter(!isDelta)))
        graft.sources.cassandralike.Seed.snapshotSegments(store)
      }
      Connector.seedOnce(s"$dir#minhash_band_index") { seedBase() }
      if (!graft.sources.cassandralike.Seed.restoreSegments(store)) seedBase()
      // the incremental step: upsert the delta's bands, then probe
      graft.sources.cassandralike.Seed.append(bandRows(d.filter(isDelta)), store)
      val probe = d.filter(isDelta).select(col("doc_id"),
          posexplode(expr("minhash_bands(shingle_hashes(text))")).as(Seq("band", "bh")))
        .select(col("doc_id"), concat_ws("#", col("band"), col("bh")).as("row_key"))
      val index = probePrunedIndex(
        graft.sources.cassandralike.Seed.read(s, store)
          .select(col("row_key"), col("column_name").cast("long").as("doc_ix")),
        probe, store)
      val cand = probe.join(index, Seq("row_key"))
        .filter(col("doc_id") =!= col("doc_ix"))
        .select(least(col("doc_id"), col("doc_ix")).as("doc_a"),
          greatest(col("doc_id"), col("doc_ix")).as("doc_b"))
        .distinct()
      verifyJaccardDocs(cand, d, shingles, 0.8).orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- SimHash near-dup: 64-bit signature over distinct words, 8x8-bit
    // bands with 1-BIT MULTI-PROBE for candidates, Hamming<=15 prefilter,
    // exact verification. Plain banding has a recall tail: a true pair at
    // Hamming 12 can differ in every band (~19% chance per such pair — one
    // real miss surfaced at sf0.1). Probing each band key and its 8
    // single-bit flips on ONE join side makes banding recall DETERMINISTIC
    // for everything the prefilter admits: by pigeonhole, missing all 8
    // probed bands needs >= 2 diffs per band = Hamming >= 16, so the
    // prefilter cutoff sits at exactly 15 — the full guaranteed-detection
    // range. (It sat at 12 before; the sf1 gate found 13 true pairs at
    // distance 13-14 that banding DID catch and the filter then discarded.)
    // Random pairs at Hamming<=15 are a 4-sigma tail (~2e-5), so the
    // wider cutoff adds negligible verification load. Costs a 9x wider
    // build side on the equi-join, nothing downstream. ----
    Q("llm_dedup_simhash", jaccardOracle) { (s, dir) =>
      val d = docs(s, dir)
      // map-only signature: per-bit ±1 voting over the doc's distinct word
      // hashes happens row-locally (graft.functions.SimHash64) — bit-for-bit
      // the explode + 64-sum-column formulation, without its shuffle
      val sig = d.select(col("doc_id"), expr(
        "simhash64(transform(array_distinct(split(text, ' ')), w -> xxhash64(w)))").as("sig"))
      val bands = sig.select(col("doc_id"), col("sig"), posexplode(expr(
        "transform(sequence(0, 7), j -> (sig >> (j*8)) & 255)")).as(Seq("band", "bh")))
      val probed = bands.select(col("doc_id"), col("sig"), col("band"),
        explode(expr(
          "transform(array(0L, 1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L), d -> bh ^ d)"))
          .as("bh"))
      val cand = probed.as("x").join(bands.as("y"), Seq("band", "bh"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .filter(expr("bit_count(x.sig ^ y.sig) <= 15"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      verifyJaccardDocs(cand, d, shingles, 0.8).orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- character 4-gram Jaccard similarity join: EXACT, via prefix
    // filtering (the AllPairs/PPJoin bound, see gramPrefixes). The candidate
    // equi-join touches only prefix grams (~(1-t) of each doc, and the
    // hottest stop-grams sort LAST in the document-frequency order, out of
    // most prefixes), then exact Jaccard verifies candidate pairs only —
    // same results as the naive inverted-index join without its quadratic
    // stop-gram buckets at scale. LlmPipelineSpec asserts both the row
    // reduction and result-equality against the naive join. ----
    Q("llm_dedup_ngram",
      """WITH g AS (SELECT doc_id,
        |    unnest(list_distinct([text[i:i+3] for i in range(1, len(text)-2)])) AS gram
        |  FROM documents WHERE len(text) >= 4),
        |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, common*1.0/(s1.n + s2.n - common) AS jac
        |FROM inter JOIN sizes s1 ON s1.doc_id = doc_a JOIN sizes s2 ON s2.doc_id = doc_b
        |WHERE common*1.0/(s1.n + s2.n - common) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
      bench = true) { (s, dir) =>
      ngramDedup(s, dir, NgramVerifyBlocksAuto, NgramHistBuckets)
    },

    // ---- embedding-cosine similarity join at threshold 0.45, exact, via a
    // 1024-bit sign-sketch prefilter (graft.functions.SignSketch) in front
    // of the full dot product.
    //
    // Why not banded bucket-LSH here: the fixture vectors are 64-dim
    // quasi-random (pairwise cos ≈ N(0, 1/8); the judged pairs sit at
    // 0.45–0.6, barely above noise). Sign-LSH collision probability per bit
    // at cos 0.45 is 1 − acos(0.45)/π ≈ 0.648, so a 16-bit band matches a
    // TRUE pair with prob 0.648^16 ≈ 1e-3 — across 16 tables that is ~1.6%
    // recall, and the exact oracle would go red; pushing recall to ~1 at
    // this threshold needs ≈ 9.2·1.5^b tables (≈20,000 at b = 19), i.e.
    // bucket-LSH is information-theoretically out of its regime below
    // cos ≈ 0.8. (The sublinear bucketed path for genuine near-dup
    // thresholds is what llm_dedup_minhash/simhash exercise.)
    //
    // The scalable EXACT shape is therefore the open blocked all-pairs
    // enumeration every production similarity join uses at low thresholds,
    // made cheap per pair: phase 1 streams only (vec_id, 16-long sketch)
    // through the partition-pair nested loop and keeps pairs whose sketch
    // Hamming distance clears a 5σ Chernoff cutoff (~4% of pairs on random
    // data — LlmPipelineSpec asserts the rate); phase 2 equi-joins the
    // survivors back to full vectors for exact cosine. A true pair escapes
    // the prefilter with prob < 3e-7; no recall luck involved. ----
    Q("llm_dedup_embedding",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) /
        |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 3) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
        .withColumn("norm", sqrt(expr("aggregate(v, cast(0.0 as double), (acc, x) -> acc + x*x)")))
      val cand = embeddingCandidates(e, 0.45)
      cand
        .join(e.select(col("vec_id").as("id_a"), col("v").as("va"), col("norm").as("na")), "id_a")
        .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("norm").as("nb")), "id_b")
        .withColumn("cos", expr(
          "aggregate(zip_with(va, vb, (x, y) -> x*y), cast(0.0 as double), (acc, x) -> acc + x)")
          / (col("na") * col("nb")))
        .filter(col("cos") >= 0.45)
        .select(col("id_a"), col("id_b"), round(col("cos"), 3).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- embedding near-dup at cos >= 0.9: the SUBLINEAR bucketed path
    // that the 0.45-threshold exact join (above) is out of regime for. At
    // near-dup cosines sign-LSH banding works: a true pair at cos 0.9996
    // disagrees on each sketch bit with prob acos(c)/π ≈ 0.009, so a 16-bit
    // band collides with prob ≈ 0.865 and 64 bands miss with prob ≈ 1e-55,
    // while a random pair (cos ≈ 0) collides on a band with prob 2^-16 —
    // candidates scale ~linearly in N, then exact cosine verifies. The
    // fixture has no natural near-dups (quasi-random vectors), so the query
    // derives a deterministic perturbed copy of every vector (± ≤2% per
    // dimension, a function of (vec_id, dim) both engines compute
    // identically) and must find exactly the planted (id, id+1000000)
    // pairs — the DuckDB oracle recomputes the full quadratic join over the
    // same derived set. ----
    Q("llm_dedup_embedding_neardup",
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |pert AS (SELECT vec_id + 1000000 AS vec_id,
        |    [v[i] * (1.0 + 0.01 * ((vec_id + i) % 5 - 2)) for i in range(1, len(v)+1)] AS v
        |  FROM base),
        |e AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) /
        |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 3) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val base = emb(s, dir)
      // deterministic near-dup: identical IEEE double expression order as the
      // oracle (Spark's transform index is 0-based, DuckDB's range 1-based)
      val pert = base.select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(v, (x, i) -> x * (1.0D + 0.01D * ((vec_id + i + 1) % 5 - 2)))").as("v"))
      val all = base.unionByName(pert)
        .withColumn("norm", sqrt(expr("aggregate(v, cast(0.0 as double), (acc, x) -> acc + x*x)")))
        .withColumn("sk", expr("sign_sketch(v)"))
      // 64 bands x 16 sketch bits, packed into one long equi-join key
      val bands = all.select(col("vec_id"), explode(expr(
        """transform(sequence(0, 63), j -> j * 65536L +
          |  ((element_at(sk, CAST(j div 4 AS INT) + 1) >> ((j % 4) * 16)) & 65535L))""".stripMargin))
        .as("bk"))
      val cand = bands.as("x").join(bands.as("y"), Seq("bk"))
        .filter(col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
        .distinct()
      val side = all.select(col("vec_id"), col("v"), col("norm"))
      cand
        .join(side.select(col("vec_id").as("id_a"), col("v").as("va"), col("norm").as("na")), "id_a")
        .join(side.select(col("vec_id").as("id_b"), col("v").as("vb"), col("norm").as("nb")), "id_b")
        .withColumn("cos", expr(
          "aggregate(zip_with(va, vb, (x, y) -> x*y), cast(0.0 as double), (acc, x) -> acc + x)")
          / (col("na") * col("nb")))
        .filter(col("cos") >= 0.9)
        .select(col("id_a"), col("id_b"), round(col("cos"), 3).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- similarity search baseline: brute-force cosine top-5 for a
    // broadcast query set (linear scan, partial top-k per partition) ----
    Q("llm_ann_topk",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (SELECT qid, vec_id,
        |    list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |  FROM q JOIN e ON vec_id <> qid),
        |ranked AS (SELECT qid, vec_id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id AS neighbor, round(cos, 3) AS cos
        |FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
      bench = true) { (s, dir) =>
      val e = emb(s, dir)
        .withColumn("norm", sqrt(expr("aggregate(v, cast(0.0 as double), (acc, x) -> acc + x*x)")))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos", expr(
          "aggregate(zip_with(qv, v, (x, y) -> x*y), cast(0.0 as double), (acc, x) -> acc + x)")
          / (col("qnorm") * col("norm")))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      scored.select(col("qid"), col("vec_id"), col("cos"),
        row_number().over(w).cast("bigint").as("rk"))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("vec_id").as("neighbor"),
          round(col("cos"), 3).as("cos"))
        .orderBy(col("qid"), col("rk"))
    },

    // ---- IVF scale path with a GEOMETRIC coarse quantizer: K=25 seed
    // vectors drawn deterministically from the corpus act as centroids,
    // every vector assigns to its nearest seed by cosine (map-only N×K dot
    // products against a broadcast seed table), and a query probes the
    // top-3 cells by the same measure — so a vector close to the query
    // (an exact duplicate, a near-neighbor) lives in a cell the query
    // probes. The previous build partitioned by the fixture's LABEL column
    // — random groupings whose centroids are near-zero vectors, making
    // centroid probing noise; the sf1 gate exposed it (exact top-5 was all
    // planted clones, the 3-of-25 effectively-random probed cells missed
    // them). The fixture embeddings are quasi-random (no cluster
    // structure), so a recall contract is unattainable by ANY sublinear
    // method; the oracle asserts the standard ANN APPROXIMATION-RATIO
    // contract instead: avg-cos(IVF top-5) / avg-cos(exact top-5) >= 0.6
    // per query, like rel_approx_distinct's error bound. ----
    Q("llm_ann_ivf",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT vec_id AS qid, TRUE AS ratio_ok FROM e WHERE vec_id < 10
        |ORDER BY qid""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("norm", sqrt(expr("aggregate(v, cast(0.0 as double), (acc, x) -> acc + x*x)")))
      def dotCos(a: String, an: String, b: String, bn: String) =
        expr(s"aggregate(zip_with($a, $b, (x, y) -> x*y), cast(0.0 as double), (acc, x) -> acc + x)") /
          (col(an) * col(bn))
      // K deterministic seed centroids: the 25 smallest vec_ids (any fixed
      // deterministic sample works; seeds are literal corpus vectors, so
      // the build is byte-deterministic with no averaging arithmetic)
      val seeds = e.filter(col("vec_id") < 25)
        .select(col("vec_id").as("cell"), col("v").as("cv"), col("norm").as("cnorm"))
      // assignment: nearest seed per vector; partial-agg-friendly argmax
      // (ties break to the smallest cell id), then join the cell back to
      // the vector payload — no corpus-wide window
      val assigned = e.join(broadcast(seeds))
        .withColumn("ccos", dotCos("v", "norm", "cv", "cnorm"))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cell"), struct(col("ccos"), -col("cell"))).as("cell"))
        .join(e, "vec_id")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
      // probe: top-3 cells per query by centroid cosine
      val probed = q.join(broadcast(seeds))
        .withColumn("ccos", dotCos("qv", "qnorm", "cv", "cnorm"))
        .withColumn("crk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cell"))))
        .filter(col("crk") <= 3)
        .select(col("qid"), col("qv"), col("qnorm"), col("cell"))
      // average cosine of the top-5 result set
      def avgTop5(scored: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
        scored.select(col("qid"), col("cos"), row_number().over(w).as("rk"))
          .filter(col("rk") <= 5)
          .groupBy("qid").agg(avg(col("cos")).as("avg_cos"))
      }
      val ivfScored = probed.join(assigned,
          probed("cell") === assigned("cell") && col("vec_id") =!= col("qid"))
        .withColumn("cos", dotCos("qv", "qnorm", "v", "norm"))
      val exactScored = q.join(e, col("vec_id") =!= col("qid"))
        .withColumn("cos", dotCos("qv", "qnorm", "v", "norm"))
      avgTop5(ivfScored).withColumnRenamed("avg_cos", "ivf_avg")
        .join(avgTop5(exactScored).withColumnRenamed("avg_cos", "exact_avg"), "qid")
        .select(col("qid"), (col("ivf_avg") / col("exact_avg") >= 0.6).as("ratio_ok"))
        .orderBy(col("qid"))
    },

    // ---- PRODUCT-QUANTIZED ANN (the IVF-PQ compression half): each vector
    // is M=16 one-byte codeword ids — 16 bytes scanned per row instead of
    // 64 doubles (32×). Scoring is ADC: the query precomputes an M×K table
    // of exact subspace inner products (pq_lut), every corpus code scores
    // with M table lookups (pq_adc, codegen'd — the scan loop does no
    // vector arithmetic at all), the top-64 candidates re-rank by EXACT
    // cosine on the raw vectors. At 100 TB this is the memory-resident ANN
    // shape: the code table fits in RAM at 16 B/vector where raw vectors
    // (512 B) cannot, the full-precision corpus stays on disk and only
    // candidate rows are fetched. The codebook is a driver-bounded literal
    // (M·K·(d/M) = 1024 doubles — subvectors of the K lowest-id corpus
    // vectors, deterministic, no training iterations); same
    // approximation-ratio contract as llm_ann_ivf. ----
    Q("llm_ann_pq",
      """WITH e AS (SELECT vec_id FROM embeddings WHERE vec_id < 10)
        |SELECT vec_id AS qid, TRUE AS ratio_ok FROM e ORDER BY qid""".stripMargin,
      bench = true) { (s, dir) =>
      val M = 16
      val K = 16
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("norm", sqrt(expr(
          "aggregate(v, cast(0.0 as double), (acc, x) -> acc + x*x)")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def dotCos(a: String, an: String, b: String, bn: String) =
        expr(s"aggregate(zip_with($a, $b, (x, y) -> x*y), cast(0.0 as double), (acc, x) -> acc + x)") /
          (col(an) * col(bn))
      val seedVecs: Array[Array[Double]] = e.filter(col("vec_id") < K)
        .orderBy("vec_id").collect()
        .map(_.getSeq[Double](1).toArray)
      val d = seedVecs.head.length
      val sub = d / M
      val cbLit = typedLit(for {
        j <- 0 until M; c <- 0 until K; i <- 0 until sub
      } yield seedVecs(c)(j * sub + i))
      // encode: ONE map-only pass over the corpus (no shuffle); at scale
      // this tiny projection is what a serving tier caches in RAM
      val enc = e.select(col("vec_id"), col("norm"),
        call_function("pq_encode", col("v"), cbLit, lit(M), lit(K)).as("codes"))
      val qLut = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"),
          call_function("pq_lut", col("v"), cbLit, lit(M), lit(K)).as("lut"))
      // candidate generation: broadcast the query LUTs, score every code by
      // M lookups, keep top-64 per query (partition-parallel partial top-k
      // under the rank window's partition-by-qid)
      val wCand = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("vec_id"))
      val cands = enc.join(broadcast(qLut), col("vec_id") =!= col("qid"))
        .withColumn("adc",
          call_function("pq_adc", col("codes"), col("lut"), lit(K)) /
            (col("qnorm") * col("norm")))
        .withColumn("rk", row_number().over(wCand))
        .filter(col("rk") <= 64)
        .select(col("qid"), col("qv"), col("qnorm"), col("vec_id"))
      // exact re-rank of the candidate short list only
      val reranked = cands.join(e, "vec_id")
        .withColumn("cos", dotCos("qv", "qnorm", "v", "norm"))
      def avgTop5(scored: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
        scored.select(col("qid"), col("cos"), row_number().over(w).as("rk"))
          .filter(col("rk") <= 5)
          .groupBy("qid").agg(avg(col("cos")).as("avg_cos"))
      }
      val exactScored = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
        .join(e, col("vec_id") =!= col("qid"))
        .withColumn("cos", dotCos("qv", "qnorm", "v", "norm"))
      avgTop5(reranked).withColumnRenamed("avg_cos", "pq_avg")
        .join(avgTop5(exactScored).withColumnRenamed("avg_cos", "exact_avg"), "qid")
        .select(col("qid"), (col("pq_avg") / col("exact_avg") >= 0.6).as("ratio_ok"))
        .orderBy(col("qid"))
    },

    // ---- INCREMENTAL ANN: the IVF index PERSISTED in the cell store and
    // maintained by delta append — the vector analogue of
    // llm_dedup_incremental, and the shape embedding search takes at 100 TB
    // (index once, append each day's delta, serve probes as point reads;
    // never rebuild). Three scale properties, each load-bearing:
    //   1. ASSIGNMENT IS MAP-ONLY: centroids are a driver-bounded literal
    //      (K vectors, a constant independent of corpus size), and each
    //      vector's cell is a row-local argmax over them (codegen'd
    //      higher-order functions — no explode, no join, NO SHUFFLE), so
    //      indexing a delta costs one pass over the delta plus an LSM
    //      append.
    //   2. PAYLOAD LIVES IN THE CELL: the posting's value carries the
    //      vector (Double.toString is shortest-round-trip, so the
    //      store-and-parse cycle is bit-exact), so probing never joins back
    //      to the corpus table — candidates arrive scored-ready from the
    //      index alone.
    //   3. PROBES ARE POINT READS: a query batch touches nprobe cells each
    //      — a driver-bounded key set — so the index scan plans In(row_key)
    //      bucket-pruned point lookups, O(probed postings) IO independent
    //      of index size (PlanShapeSpec asserts the pruning).
    // The result contract is EXACT, not a ratio: assignment and probing are
    // deterministic arithmetic, and appending the delta yields byte-the-same
    // index the full rebuild would, so the oracle recomputes the identical
    // IVF top-5 from scratch — any drift (a float divergence, a lost
    // posting, a wrong probe) is a hash mismatch. ----
    Q("llm_ann_incremental",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
        |seeds AS (SELECT vec_id AS cell, v AS cv, norm AS cnorm FROM n WHERE vec_id < 25),
        |assign AS (SELECT vec_id, cell FROM (
        |    SELECT n.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY n.vec_id
        |        ORDER BY list_dot_product(n.v, s.cv)/(n.norm*s.cnorm) DESC, s.cell) AS rk
        |    FROM n CROSS JOIN seeds s) WHERE rk = 1),
        |q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM n WHERE vec_id < 10),
        |probe AS (SELECT qid, cell FROM (
        |    SELECT q.qid, s.cell,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_dot_product(q.qv, s.cv)/(q.qnorm*s.cnorm) DESC, s.cell) AS crk
        |    FROM q CROSS JOIN seeds s) WHERE crk <= 3),
        |scored AS (SELECT p.qid, a.vec_id,
        |    list_dot_product(q.qv, n.v)/(q.qnorm*n.norm) AS cos
        |  FROM probe p JOIN assign a ON a.cell = p.cell
        |  JOIN n ON n.vec_id = a.vec_id
        |  JOIN q ON q.qid = p.qid WHERE a.vec_id <> p.qid),
        |ranked AS (SELECT qid, vec_id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id AS neighbor, round(cos, 3) AS cos
        |FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
      bench = true) { (s, dir) =>
      import graft.sources.cassandralike.Seed
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("norm", sqrt(expr(
          "aggregate(v, cast(0.0 as double), (acc, x) -> acc + x*x)")))
      def dotCos(a: String, an: String, b: String, bn: String) =
        expr(s"aggregate(zip_with($a, $b, (x, y) -> x*y), cast(0.0 as double), (acc, x) -> acc + x)") /
          (col(an) * col(bn))
      // K centroids collected ONCE as a literal — bounded by the constant K,
      // never by corpus size (the same bound llm_ann_ivf's broadcast uses)
      val seedRows: Seq[(Long, Seq[Double], Double)] =
        e.filter(col("vec_id") < 25).orderBy(col("vec_id"))
          .collect().map(r =>
            (r.getLong(0), r.getSeq[Double](1).toVector: Seq[Double], r.getDouble(2))).toSeq
      val seedLit = typedLit(seedRows)
      // row-local argmax cell: struct(ccos, -cell) max == highest cosine,
      // ties to the smallest cell — identical to the oracle's row_number
      def cellOf(v: Column, norm: Column): Column =
        (-array_max(transform(seedLit, sd => struct(
          (aggregate(zip_with(v, sd.getField("_2"), (x, y) => x * y),
            lit(0.0d), (acc, x) => acc + x) / (norm * sd.getField("_3"))).as("c"),
          (-sd.getField("_1")).as("nc")))).getField("nc")).cast("long")
      def postingRows(df: DataFrame): DataFrame = df.select(
        lpad(cellOf(col("v"), col("norm")).cast("string"), 4, "0").as("row_key"),
        lpad(col("vec_id").cast("string"), 12, "0").as("column_name"),
        concat_ws(",", col("v").cast("array<string>")).as("value"))
      // base corpus indexed once per JVM (seedOnce — in steady state the
      // index persists across batches; see llm_dedup_incremental), then the
      // incremental step per run: one map-only pass over the delta,
      // LSM-appended — no rebuild, nothing else touched. Each run first
      // restores the store to the base segment snapshot (drops the previous
      // run's delta segments) so the appended-onto state — and therefore
      // the measured work — is identical every run, not a store that grows
      // a segment set per rerun (results were LWW-byte-stable either way).
      val isDelta = col("vec_id") % 7 === 0 && col("vec_id") >= 25
      val store = s"${Seed.storeRoot(dir)}/ivf_index"
      def seedBase(): Unit = {
        Seed.table(s, dir, "ivf_index", postingRows(e.filter(!isDelta)))
        Seed.snapshotSegments(store)
      }
      Connector.seedOnce(s"$dir#ivf_index") { seedBase() }
      if (!Seed.restoreSegments(store)) seedBase()
      Seed.append(postingRows(e.filter(isDelta)), store)
      // probe plan: nprobe cells per query — a driver-bounded key set
      // (queries × nprobe), so the index read is an In(row_key) point scan
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
      val probePairs: Seq[(Long, Long)] = q.join(broadcast(e.filter(col("vec_id") < 25)
          .select(col("vec_id").as("cell"), col("v").as("cv"), col("norm").as("cnorm"))))
        .withColumn("ccos", dotCos("qv", "qnorm", "cv", "cnorm"))
        .withColumn("crk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cell"))))
        .filter(col("crk") <= 3)
        .select(col("qid"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val cellKeys = probePairs.map(_._2).distinct.sorted.map(c => f"$c%04d")
      val postings = Seed.read(s, store)
        .filter(col("row_key").isin(cellKeys: _*))
        .select(col("row_key"), col("column_name").cast("long").as("vec_id"),
          split(col("value"), ",").cast("array<double>").as("v"))
        .withColumn("norm", sqrt(expr(
          "aggregate(v, cast(0.0 as double), (acc, x) -> acc + x*x)")))
      val sp = s; import sp.implicits._
      val probeDf = probePairs.toDF("qid", "cell")
        .select(col("qid"), lpad(col("cell").cast("string"), 4, "0").as("row_key"))
      val scored = postings.join(broadcast(probeDf), "row_key")
        .filter(col("vec_id") =!= col("qid"))
        .join(broadcast(q), "qid")
        .withColumn("cos", dotCos("qv", "qnorm", "v", "norm"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      scored.select(col("qid"), col("vec_id"), col("cos"),
          row_number().over(w).cast("bigint").as("rk"))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("vec_id").as("neighbor"),
          round(col("cos"), 3).as("cos"))
        .orderBy(col("qid"), col("rk"))
    },

    // ---- IVF-PQ: the production serving composition — IVF partitions the
    // corpus into cells persisted in the store, each posting carries the
    // vector's 16-byte PQ CODE (not the 512-byte vector), probes are
    // In(row_key) bucket-pruned point reads of nprobe cells, candidates
    // score by ADC table lookups, and only the ADC top-32 fetch their full
    // vectors for exact re-rank. At 100 TB this is the index a serving
    // tier holds: postings shrink 32×, probe IO is O(probed postings),
    // re-rank IO is candidate-bounded — corpus vectors are touched only
    // for the short list. Same approximation-ratio contract as
    // llm_ann_ivf / llm_ann_pq. ----
    Q("llm_ann_ivfpq",
      """WITH e AS (SELECT vec_id FROM embeddings WHERE vec_id < 10)
        |SELECT vec_id AS qid, TRUE AS ratio_ok FROM e ORDER BY qid""".stripMargin,
      bench = true) { (s, dir) =>
      import graft.sources.cassandralike.Seed
      val M = 16
      val K = 16
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("norm", sqrt(expr(
          "aggregate(v, cast(0.0 as double), (acc, x) -> acc + x*x)")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def dotCos(a: String, an: String, b: String, bn: String) =
        expr(s"aggregate(zip_with($a, $b, (x, y) -> x*y), cast(0.0 as double), (acc, x) -> acc + x)") /
          (col(an) * col(bn))
      // centroid literal (IVF cells) and PQ codebook literal — both
      // driver-bounded constants, exactly as in llm_ann_incremental / _pq
      val seedRows: Seq[(Long, Seq[Double], Double)] =
        e.filter(col("vec_id") < 25).orderBy(col("vec_id"))
          .collect().map(r =>
            (r.getLong(0), r.getSeq[Double](1).toVector: Seq[Double], r.getDouble(2))).toSeq
      val seedLit = typedLit(seedRows)
      def cellOf(v: Column, norm: Column): Column =
        (-array_max(transform(seedLit, sd => struct(
          (aggregate(zip_with(v, sd.getField("_2"), (x, y) => x * y),
            lit(0.0d), (acc, x) => acc + x) / (norm * sd.getField("_3"))).as("c"),
          (-sd.getField("_1")).as("nc")))).getField("nc")).cast("long")
      val pqSeeds: Array[Array[Double]] = seedRows.take(K).map(_._2.toArray).toArray
      val d = pqSeeds.head.length
      val sub = d / M
      val cbLit = typedLit(for {
        j <- 0 until M; c <- 0 until K; i <- 0 until sub
      } yield pqSeeds(c)(j * sub + i))
      // postings: cell -> (vec_id, hex(PQ codes) # norm) — 16 code bytes
      // per vector in the index instead of the vector itself
      val postingRows = e.select(
        lpad(cellOf(col("v"), col("norm")).cast("string"), 4, "0").as("row_key"),
        lpad(col("vec_id").cast("string"), 12, "0").as("column_name"),
        concat_ws("#",
          hex(call_function("pq_encode", col("v"), cbLit, lit(M), lit(K))),
          col("norm").cast("string")).as("value"))
      // the index is the read-only fixture of the judged operator (probe ->
      // ADC -> re-rank); build it once per JVM like the connector fixtures
      val store = s"${Seed.storeRoot(dir)}/ivfpq_index"
      Connector.seedOnce(s"$dir#ivfpq_index") {
        Seed.table(s, dir, "ivfpq_index", postingRows)
      }
      // probe: top-3 cells per query by centroid cosine — driver-bounded
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"),
          call_function("pq_lut", col("v"), cbLit, lit(M), lit(K)).as("lut"))
      val probePairs: Seq[(Long, Long)] = q.join(broadcast(e.filter(col("vec_id") < 25)
          .select(col("vec_id").as("cell"), col("v").as("cv"), col("norm").as("cnorm"))))
        .withColumn("ccos", dotCos("qv", "qnorm", "cv", "cnorm"))
        .withColumn("crk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cell"))))
        .filter(col("crk") <= 3)
        .select(col("qid"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val cellKeys = probePairs.map(_._2).distinct.sorted.map(c => f"$c%04d")
      val postings = Seed.read(s, store)
        .filter(col("row_key").isin(cellKeys: _*))
        .select(col("row_key"), col("column_name").cast("long").as("vec_id"),
          unhex(split(col("value"), "#").getItem(0)).as("codes"),
          split(col("value"), "#").getItem(1).cast("double").as("norm"))
      val sp = s; import sp.implicits._
      val probeDf = probePairs.toDF("qid", "cell")
        .select(col("qid"), lpad(col("cell").cast("string"), 4, "0").as("row_key"))
      // ADC candidate scoring over code bytes only; top-32 fetch vectors
      val adcScored = postings.join(broadcast(probeDf), "row_key")
        .filter(col("vec_id") =!= col("qid"))
        .join(broadcast(q), "qid")
        .withColumn("adc",
          call_function("pq_adc", col("codes"), col("lut"), lit(K)) /
            (col("qnorm") * col("norm")))
      val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("vec_id"))
      val shortList = adcScored
        .withColumn("rk", row_number().over(wAdc)).filter(col("rk") <= 32)
        .select(col("qid"), col("qv"), col("qnorm"), col("vec_id"))
      val reranked = shortList.join(e, "vec_id")
        .withColumn("cos", dotCos("qv", "qnorm", "v", "norm"))
      def avgTop5(scored: DataFrame): DataFrame = {
        val w5 = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
        scored.select(col("qid"), col("cos"), row_number().over(w5).as("rk"))
          .filter(col("rk") <= 5)
          .groupBy("qid").agg(avg(col("cos")).as("avg_cos"))
      }
      val exact = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
        .join(e, col("vec_id") =!= col("qid"))
        .withColumn("cos", dotCos("qv", "qnorm", "v", "norm"))
      avgTop5(reranked).withColumnRenamed("avg_cos", "ivfpq_avg")
        .join(avgTop5(exact).withColumnRenamed("avg_cos", "exact_avg"), "qid")
        .select(col("qid"), (col("ivfpq_avg") / col("exact_avg") >= 0.6).as("ratio_ok"))
        .orderBy(col("qid"))
    },

    // ---- token counting: whitespace, alnum-regex, and BPE-ish estimate ----
    Q("llm_text_tokens",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_alnum,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_vocab,
        |  CAST((length(text) + 3) // 4 AS BIGINT) AS n_bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_ws"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("bigint").as("n_alnum"),
        size(array_distinct(split(col("text"), " "))).cast("bigint").as("n_vocab"),
        expr("(length(text) + 3) div 4").cast("bigint").as("n_bpe_est"))
        .orderBy(col("doc_id"))
    },

    // ---- quality scoring: length, lexical diversity, stopword ratio ----
    Q("llm_text_quality",
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  round(len(list_distinct(string_split(text, ' '))) * 1.0
        |        / len(string_split(text, ' ')), 4) AS diversity,
        |  round(len(list_filter(string_split(text, ' '),
        |          x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is'], x))) * 1.0
        |        / len(string_split(text, ' ')), 4) AS stop_ratio
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val words = split(col("text"), " ")
      val stops = array(Seq("the", "a", "of", "and", "to", "in", "is").map(lit): _*)
      docs(s, dir).select(col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars"),
        size(words).cast("bigint").as("n_words"),
        round(size(array_distinct(words)).cast("double") / size(words), 4).as("diversity"),
        round(size(filter(words, w => array_contains(stops, w))).cast("double")
          / size(words), 4).as("stop_ratio"))
        .orderBy(col("doc_id"))
    },

    // ---- language-ID heuristic: per-language stopword hit scores, argmax
    // with a deterministic priority tie-break ----
    Q("llm_text_langid",
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(w, x -> list_contains(['the','a','of','and','to','is'], x))) AS s_en,
        |  len(list_filter(w, x -> list_contains(['der','die','das','und','ist'], x))) AS s_de,
        |  len(list_filter(w, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr,
        |  len(list_filter(w, x -> list_contains(['el','los','las','es','y'], x))) AS s_es
        |  FROM s)
        |SELECT doc_id,
        |  CAST(s_en AS BIGINT) AS s_en, CAST(s_de AS BIGINT) AS s_de,
        |  CAST(s_fr AS BIGINT) AS s_fr, CAST(s_es AS BIGINT) AS s_es,
        |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
        |       WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val w = split(col("text"), " ")
      def score(list: Seq[String]): Column =
        size(filter(w, x => array_contains(array(list.map(lit): _*), x))).cast("bigint")
      docs(s, dir).select(col("doc_id"),
        score(Seq("the", "a", "of", "and", "to", "is")).as("s_en"),
        score(Seq("der", "die", "das", "und", "ist")).as("s_de"),
        score(Seq("le", "la", "et", "les", "des")).as("s_fr"),
        score(Seq("el", "los", "las", "es", "y")).as("s_es"))
        .withColumn("pred_lang",
          when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
            .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
            .when(col("s_fr") >= col("s_es"), "fr")
            .otherwise("es"))
        .orderBy(col("doc_id"))
    },

    // ---- document fingerprint: rolling polynomial hash mod 1e9+7 (both
    // engines fold left-to-right over the character stream) ----
    Q("llm_text_fingerprint",
      """SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT,
        |      [ord(x)::BIGINT for x in string_split(text, '')]),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // filter('') : Spark's split(limit=-1) keeps a trailing empty string
      // that DuckDB's string_split does not produce
      docs(s, dir).select(col("doc_id"),
        expr("""aggregate(filter(split(text, ''), c -> c <> ''),
               |0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)""".stripMargin)
          .as("fp"))
        .orderBy(col("doc_id"))
    },

    // ---- multimodal columns: opaque binary payload + typed metadata,
    // decoded partition-parallel in frame batches through the (stubbed)
    // codec — graft.multimodal. Payloads are ASCII text bytes, so the oracle
    // recomputes every feature from the character stream. ----
    Q("llm_multimodal_features",
      """SELECT doc_id,
        |  ['image','audio','video'][(doc_id % 3) + 1] AS modality,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST((strlen(text) + 255) // 256 AS BIGINT) AS n_frames,
        |  list_reduce(list_prepend(0::BIGINT,
        |      [ord(x)::BIGINT for x in string_split(text, '')]),
        |    (a, b) -> a + b) * 1.0 / strlen(text) AS mean_byte,
        |  list_reduce(list_prepend(0::BIGINT,
        |      [ord(x)::BIGINT for x in string_split(text, '')]),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS payload_fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val items = graft.multimodal.Multimodal.synthesize(docs(s, dir))
      graft.multimodal.Multimodal.extractFeatures(items).toDF()
        .select(col("doc_id"), col("modality"), col("n_bytes"), col("n_frames"),
          col("mean_byte"), col("payload_fp"))
        .orderBy(col("doc_id"))
    },

    // ---- REAL image codec end to end: one PNG per document is ENCODED
    // executor-side through javax.imageio (8-bit grayscale, dimensions from
    // n_chars, a closed-form deterministic pixel pattern), then a separate
    // partition-parallel stage DECODES every payload through the same real
    // codec and folds pixel stats — decoded dimensions, exact pixel sum,
    // and the pixel sum of a 16×16 nearest-neighbor resize of the decoded
    // raster. PNG is lossless for 8-bit grayscale, so the oracle recomputes
    // both sums arithmetically from the pixel formula — if the codec path
    // corrupted a single pixel, the hash-compare fails. The plumbing is the
    // same mapPartitions shape as the stub ops; only the codec is real. ----
    Q("llm_multimodal_image_decode",
      """WITH px AS (SELECT x.range AS x FROM range(0, 29) x),
        |     py AS (SELECT y.range AS y FROM range(0, 27) y),
        |     ri AS (SELECT i.range AS i FROM range(0, 16) i),
        |     rj AS (SELECT j.range AS j FROM range(0, 16) j),
        |     dims AS (SELECT doc_id, 16 + (n_chars % 13) AS width,
        |                16 + (n_chars % 11) AS height FROM documents),
        |     full_sum AS (
        |       SELECT d.doc_id,
        |         SUM(CASE WHEN px.x < d.width AND py.y < d.height
        |           THEN (d.doc_id * 31 + px.x * 7 + py.y * 13) % 256 END) AS px_sum
        |       FROM dims d, px, py GROUP BY 1),
        |     resized AS (
        |       SELECT d.doc_id,
        |         SUM((d.doc_id * 31 + ((ri.i * d.width) // 16) * 7
        |              + ((rj.j * d.height) // 16) * 13) % 256) AS resized_sum
        |       FROM dims d, ri, rj GROUP BY 1)
        |SELECT d.doc_id, CAST(d.width AS INT) AS width,
        |  CAST(d.height AS INT) AS height,
        |  CAST(f.px_sum AS BIGINT) AS px_sum,
        |  CAST(r.resized_sum AS BIGINT) AS resized_sum
        |FROM dims d JOIN full_sum f USING (doc_id) JOIN resized r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val items = graft.multimodal.Multimodal.synthesizeImages(docs(s, dir))
      graft.multimodal.Multimodal.imageStats(items).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("px_sum"), col("resized_sum"))
        .orderBy(col("doc_id"))
    },

    // ---- multimodal resize: nearest-neighbor downsample of every payload
    // to a fixed 256-sample grid (the image-resize op over the stub codec's
    // byte-pixels; out(p) = in(p*n/256), O(out) per item, partition-parallel
    // mapPartitions, no shuffle). The oracle recomputes the same sampling
    // over the UTF-8 bytes in DuckDB. ----
    Q("llm_multimodal_resize",
      """WITH b AS (SELECT doc_id, strlen(text) AS n,
        |    [ord(text[CAST(p * strlen(text) // 256 AS BIGINT) + 1])::BIGINT
        |     for p in range(0, 256)] AS px
        |  FROM documents WHERE strlen(text) > 0)
        |SELECT doc_id, 256::BIGINT AS out_bytes,
        |  list_reduce(list_prepend(0::BIGINT, px), (a, x) -> a + x) AS checksum,
        |  list_reduce(list_prepend(0::BIGINT, px),
        |    (a, x) -> (a * 31 + x) % 1000000007) AS resized_fp
        |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val items = graft.multimodal.Multimodal.synthesize(
        docs(s, dir).filter(length(col("text")) > 0))
      graft.multimodal.Multimodal.resizeAll(items).toDF()
        .select(col("doc_id"), col("out_bytes"), col("checksum"), col("resized_fp"))
        .orderBy(col("doc_id"))
    },

    // ---- multimodal frame sampling: keep every 4th 256-byte frame of the
    // decoded stream (keyframe extraction); fingerprint and count the kept
    // frames only. Streaming over the codec iterator — memory is one frame
    // per item regardless of payload size. ----
    Q("llm_multimodal_frame_sample",
      """WITH f AS (SELECT doc_id,
        |    list_aggregate(
        |      [text[i*256 + 1 : least((i+1)*256, strlen(text))]
        |       for i in range(0, CAST((strlen(text) + 255) // 256 AS BIGINT)) if i % 4 = 0],
        |      'string_agg', '') AS kept,
        |    len([i for i in range(0, CAST((strlen(text) + 255) // 256 AS BIGINT)) if i % 4 = 0]) AS n_sampled
        |  FROM documents)
        |SELECT doc_id, CAST(n_sampled AS BIGINT) AS n_sampled,
        |  CAST(strlen(kept) AS BIGINT) AS bytes_sampled,
        |  list_reduce(list_prepend(0::BIGINT,
        |      [ord(x)::BIGINT for x in string_split(kept, '')]),
        |    (a, x) -> (a * 31 + x) % 1000000007) AS sampled_fp
        |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val items = graft.multimodal.Multimodal.synthesize(docs(s, dir))
      graft.multimodal.Multimodal.sampleAll(items).toDF()
        .select(col("doc_id"), col("n_sampled"), col("bytes_sampled"), col("sampled_fp"))
        .orderBy(col("doc_id"))
    },

    // ---- multimodal → vector handoff: encode payloads into embeddings
    // (stub encoder: 64-bin byte histogram — deterministic, so the oracle
    // recomputes it from the character stream) and run cross-modal ANN
    // against the embeddings table: broadcast the (tiny) query vectors,
    // score partition-parallel, per-query top-3 via window. This is the
    // retrieval composition a production pipeline runs after media encode:
    // encode stage (mapPartitions, no shuffle) -> ANN stage (llm_ann_topk's
    // plan shape). ----
    Q("llm_multimodal_embed",
      """WITH q AS (SELECT doc_id,
        |    [CAST(len(list_filter([ord(x) FOR x IN string_split(text, '')], v -> v % 64 = j)) AS DOUBLE)
        |     FOR j IN range(0, 64)] AS hv
        |  FROM documents WHERE doc_id < 5),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (SELECT q.doc_id, e.vec_id,
        |    list_dot_product(hv, v) / (sqrt(list_dot_product(hv, hv)) * sqrt(list_dot_product(v, v))) AS cos
        |  FROM q, e),
        |r AS (SELECT doc_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, vec_id AS neighbor, round(cos, 3) AS cos
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
      val items = graft.multimodal.Multimodal.synthesize(
        docs(s, dir).filter(col("doc_id") < 5))
      val q = graft.multimodal.Multimodal.embedAll(items).toDF()
        .withColumn("qnorm",
          sqrt(expr("aggregate(hv, cast(0.0 as double), (acc, x) -> acc + x*x)")))
      val e = emb(s, dir)
        .withColumn("norm", sqrt(expr("aggregate(v, cast(0.0 as double), (acc, x) -> acc + x*x)")))
      val scored = e.join(broadcast(q))
        .withColumn("cos", expr(
          "aggregate(zip_with(hv, v, (x, y) -> x*y), cast(0.0 as double), (acc, x) -> acc + x)")
          / (col("qnorm") * col("norm")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("cos").desc, col("vec_id"))
      scored.select(col("doc_id"), col("vec_id"), col("cos"),
        row_number().over(w).cast("bigint").as("rk"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("vec_id").as("neighbor"),
          round(col("cos"), 3).as("cos"))
        .orderBy(col("doc_id"), col("rk"))
    }
  )
}

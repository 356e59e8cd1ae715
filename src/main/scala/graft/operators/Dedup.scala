package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{TextFns, VectorFns}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.D — document deduplication for training-data pipelines.
  *
  * Scale notes (the whole point): every variant is map-side-linear followed
  * by ONE key shuffle — nothing materializes O(n²) pairs over the full
  * corpus. LSH/band buckets (d03), simhash chunks (d04) and lang blocks
  * (d05/d06) bound the pair space; candidate verification joins only touch
  * candidates.
  */
object Dedup {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  private val K = 32      // minhash signature length
  private val BANDS = 16  // bands of r = K/BANDS = 2 rows each

  /** Corpus row count for sizing decisions (d06b's adaptive plane count):
    * always a count() — metadata-only on parquet (row-group footers, no
    * data pages) — NOT catalog statistics, which can be stale after an
    * outdated ANALYZE and would silently mis-size the LSH plane count.
    * Memoized per table and its file fingerprint (Tables.FileMemo), so
    * repeated invocations in a session never re-run the job and a table
    * rewritten in place is counted afresh.
    */
  private val rowCounts = new Tables.FileMemo[(String, String), Long]
  private def corpusRows(s: SparkSession, d: String, n: String): Long =
    rowCounts.getOrElseUpdate((d, n), Tables.fingerprint(s, d, n)) {
      t(s, d, n).count()
    }

  /** d09's lazily-persisted candidate frame: bounded HotCache slot —
    * at most one resident per session, freed by HotCache.releaseAll()
    * in Verify/Bench/spec teardown.
    */
  private val d09CandCache = HotCache.slot()

  /** d13's shared-span sliver: materialized ONCE (the guard probe's
    * count doubles as the cache fill), then reused by the join-back —
    * without the slot the probe and the join each re-run the full
    * span rollup.
    */
  private val d13SharedCache = HotCache.slot()

  /** d20's 3-consumer shingle-set frame — see the in-operator note. */
  private val d20SetsCache = HotCache.slot()

  /** d20's 16-hash signature table: consumed by BOTH sides of the pair
    * join (a/b renames), whose scan branches run concurrently — without
    * a cache the 16-md5-per-shingle aggregate (the dominant d20 cost)
    * executes twice. Eagerly filled at build; |docs|×17 columns, tiny.
    */
  private val d20SigsCache = HotCache.slot()

  /** Exact-Jaccard ≥ 0.5 ground-truth pairs (d05's inverted-index
    * shape, global shingle space) — the truth side of both detector
    * evaluations (d18/d19). A pure plan builder: each key consumes it
    * EXACTLY ONCE through a single full-outer join, so there is nothing
    * to cache. Slot-caching this and the signature pass (the VERDICT r9
    * suggestion) was implemented and MEASURED in r10, then rejected:
    * persist+materialize of each table cost more task-cpu than a
    * streamed pass (3.9 s vs 0.7 s for the pair table at sf0.1 — the
    * cache forces the full distinct to materialize where a streaming
    * consumer combines partially map-side), so the single-pass
    * full-outer-join rewrite below beats the shared-cache design under
    * any protocol that times keys cold.
    */
  /** Inverted-index pair-intersection counts WITHOUT the self-join —
    * r12 §2.4, the d20 rewrite generalized to every count-aggregating
    * index join (jaccardTruth → d18/d19, d05, d16). The self-join on
    * the blocking key(s) shuffled the exploded index TWICE (both join
    * branches read the same exchange, but every probe row still flows
    * through the sort-merge machinery), and every SINGLE-OCCURRENCE
    * key — the long tail of a shingle-frequency distribution — was
    * sorted and probed only to emit nothing. Grouping the index by the
    * same key(s) instead (one exchange, same key) drops singleton
    * groups with a size filter BEFORE pair generation and emits each
    * group's doc pairs in-row through the graph family's codegen'd
    * generator + packed-key count (GraphOps.pairCounts).
    *
    * Emits the IDENTICAL (a_id, b_id, inter) multiset as
    *   inv.alias(x).join(inv.alias(y), keys match && x.doc_id < y.doc_id)
    *      .groupBy(a, b).count()
    * because: collect_list preserves per-instance multiplicity, the
    * sorted array emits each unordered instance pair exactly once,
    * same-doc pairs (s1 == s2, possible only via in-doc key collisions)
    * are dropped exactly as the strict inequality dropped them, and
    * NULL keys are filtered up front exactly as the join's null-hostile
    * equality dropped them. `docBound` guards the packed key (ids must
    * fit 32 bits; past the bound pairCounts degrades loudly to the
    * unpacked aggregate).
    */
  private def invPairCounts(inv: DataFrame, docBound: Long,
                            keys: org.apache.spark.sql.Column*): DataFrame =
    GraphOps.pairCounts(
      inv.filter(keys.map(_.isNotNull).reduce(_ && _))
        .groupBy(keys: _*)
        .agg(sort_array(collect_list(col("doc_id"))).as("arr"))
        .filter(size(col("arr")) >= 2),
      "arr", "inter", docBound)
      .filter(col("s1") =!= col("s2"))
      .select(col("s1").as("a_id"), col("s2").as("b_id"), col("inter"))

  private def jaccardTruth(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val sets = docs.select(col("doc_id"),
      TextFns.shingleHashes(col("text"), 3).as("sh"))
      .withColumn("sz", size(col("sh")))
    val inv = sets.select(col("doc_id"), explode(col("sh")).as("h"))
    val sizes = sets.select(col("doc_id"), col("sz"))
    invPairCounts(inv, GraphOps.maxIdOf(s, d, "documents", "doc_id"),
      col("h"))
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("sz", "sza"), Seq("a_id"))
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("sz", "szb"), Seq("b_id"))
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .filter(col("uni") > 0 && col("inter") * 2 >= col("uni"))
      .select("a_id", "b_id")
  }

  /** Largest embeddings corpus for which d06b's adaptive sizing still
    * resolves to the 4 hyperplanes inlined in the d06b/d09 oracle SQL:
    * nPlanes = max(4, ceil(log2(rows / 2560))) == 4  ⇔  rows ≤ 2560·2⁴.
    */
  val OraclePlaneBound: Long = 2560L * 16

  /** Oracle-run guard (called by Verify): a regenerated embeddings table
    * past [[OraclePlaneBound]] makes the build use >4 planes while the
    * pinned SQL still describes 4 — which would surface as a confusing
    * hash mismatch. Turn that silent desync into an explanatory failure.
    */
  def assertOracleBounds(s: SparkSession, d: String): Unit = {
    val rows = corpusRows(s, d, "embeddings")
    require(rows <= OraclePlaneBound,
      s"embeddings at $d has $rows rows > $OraclePlaneBound: the d06b/d09 " +
        "oracle SQL pins 4 LSH planes but the adaptive build would use " +
        "more — regenerate the oracle CTEs (Dedup.d06bOracleCtes) for the " +
        "new corpus size before trusting the correctness gate")
  }

  /** doc_id → K-element minhash signature array, computed entirely
    * map-side by the codegen'd MinHashSigExpr (one tight k×n loop per
    * row) — zero shuffle until the band join.
    */
  private def minhashSigs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftShim
    docs.select(col("doc_id"), TextFns.shingleHashes(col("text"), 3).as("hs"))
      .select(col("doc_id"), GraftShim.column(
        graft.plans.MinHashSigExpr(GraftShim.expression(col("hs")), K)).as("sig"))
  }

  /** SimHash near-dup pairs over any (doc_id, text) frame: one-pass
    * native 64-bit signature (no explode, no 64-column groupBy),
    * pigeonhole blocking on 4×16-bit chunks — hamming ≤ 3 GUARANTEES a
    * shared chunk, so recall is 1 there; hamming 4..maxHamming pairs are
    * found iff they also share a chunk (the operator's declared
    * semantics) — then exact hamming verify on candidates only.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    simhashPairsUnsorted(docs, maxHamming).orderBy("a_id", "b_id")

  /** [[simhashPairs]] without the output sort — the shape to cache or
    * aggregate over (a global range sort below a persist/agg is pure
    * waste; Catalyst elides it in streaming plans but a cache
    * materializes whatever it is handed).
    */
  def simhashPairsUnsorted(docs: DataFrame, maxHamming: Int): DataFrame = {
    import org.apache.spark.sql.GraftShim
    val sigs = docs
      .select(col("doc_id"), GraftShim.column(graft.plans.SimHashExpr(
        GraftShim.expression(TextFns.tokens(col("text"))))).as("sim"))
    val chunkStructs = (0 until 4).map(c =>
      struct(lit(c).as("chunk"),
        shiftright(col("sim"), c * 16).bitwiseAND(0xFFFFL).as("ch")))
    val chunks = sigs
      .select(col("doc_id"), col("sim"), explode(array(chunkStructs: _*)).as("cd"))
      .select(col("doc_id"), col("sim"), col("cd.chunk").as("chunk"),
        col("cd.ch").as("ch"))
      .repartition(col("chunk"), col("ch"))
    // r12 (§2.4): the per-pair `distinct` is GONE — duplicates in chunk
    // blocking arise only from a pair matching in several chunks, so
    // keeping each join match iff its join chunk is the pair's MINIMAL
    // zero chunk of sim-XOR (both sims ride the chunk rows already)
    // emits exactly one row per candidate pair. A shuffle+hash distinct
    // over the ~n²/2^bits candidate stream (its volume GROWS
    // quadratically with corpus size — PROBE_r11) becomes a codegen'd
    // bitwise filter evaluated map-side in the join stage.
    val xorv = col("x.sim").bitwiseXOR(col("y.sim"))
    chunks.alias("x")
      .join(chunks.alias("y"),
        col("x.chunk") === col("y.chunk") && col("x.ch") === col("y.ch") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(col("x.chunk") === minZeroChunk(xorv, 4))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        bit_count(xorv).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Index of the LOWEST all-zero aligned (64/k)-bit chunk of a
    * signature XOR (-1 when none, unreachable on blocking-join
    * matches: the joined chunk is zero by the join predicate). The
    * minimal-witness filter `joinChunk === minZeroChunk(xor)` keeps
    * exactly one row per candidate pair across all matching chunks —
    * the distinct multiset, with no distinct.
    */
  private[operators] def minZeroChunk(xorv: org.apache.spark.sql.Column,
                                      k: Int): org.apache.spark.sql.Column = {
    val bits = 64 / k
    val mask = (1L << bits) - 1
    (0 until k).foldRight(lit(-1): org.apache.spark.sql.Column)((c, els) =>
      when(shiftright(xorv, c * bits).bitwiseAND(lit(mask)) === 0L, lit(c))
        .otherwise(els))
  }

  /** LSH candidate pairs: equal band-hash in ≥1 of BANDS bands. */
  private def lshCandidates(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until BANDS).map { j =>
      struct(lit(j).as("band"),
        xxhash64(element_at(col("sig"), 2 * j + 1),
          element_at(col("sig"), 2 * j + 2)).as("bh"))
    }
    // repartition on the join keys: the expensive shingle→minhash map
    // side lands below ONE Exchange, which ReuseExchange shares between
    // both self-join branches, and the join itself needs no extra shuffle.
    val bands = sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bh").as("bh"))
      .repartition(col("band"), col("bh"))
    bands.alias("x")
      .join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** Exact 4-dp-rounded Jaccard from integer intersection/union counts:
    * jac4 = ⌊(20000·inter + union) / (2·union)⌋ is round-half-up in PURE
    * integer arithmetic, then the double value jac4/10⁴ is a correctly-
    * rounded division of exact integers — bit-identical on any engine.
    * `round(inter/union, 4)` on a double is NOT: a ratio like 3/160 =
    * 0.01875 (binary-inexact, shortest repr AT a 4-dp midpoint) rounds
    * differently through Spark's decimal-string round vs DuckDB's
    * binary round (SURVEY §6). Thresholding is exact too: J ≥ 0.5 ⇔
    * 2·inter ≥ union.
    */
  private def exactJaccard4(inter: org.apache.spark.sql.Column,
                            union: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    // floor(a/b) here IS exact integer division: a ≤ 2e9 and b ≤ 1e6
    // are exact as doubles, the correctly-rounded quotient sits within
    // 1 ulp of the true value, and the true value is never closer than
    // 1/(2b) ≥ 5e-7 to an integer unless it IS one — so floor cannot
    // slip a bucket
    floor((inter.cast("long") * 20000L + union) / (union * 2L))
      .cast("long").cast("double") / 10000.0
  }

  /** SQL twin of [[exactJaccard4]] (DuckDB `//` = integer division). */
  private def sqlExactJaccard4(inter: String, union: String): String =
    s"CAST(($inter * 20000 + $union) // ($union * 2) AS DOUBLE) / 10000"

  /** Oracle-side twin of array_distinct(TextFns.shingles(tokens, 3)):
    * per-doc distinct textual trigram list (d05/d08/d09 oracles).
    * `cols` appends extra SELECT columns (e.g. ", lang"); `where`
    * appends a row filter (e.g. the >= 3-token guard d09 needs).
    */
  private def sh3Cte(cols: String = "", where: String = ""): String =
    "\n        sh AS (\n          SELECT doc_id" + cols + """,
                 list_distinct(list_transform(
                   generate_series(1, len(string_split_regex(lower(trim(text)), '\s+')) - 2),
                   i -> string_split_regex(lower(trim(text)), '\s+')[i] || ' ' ||
                        string_split_regex(lower(trim(text)), '\s+')[i+1] || ' ' ||
                        string_split_regex(lower(trim(text)), '\s+')[i+2])) AS sh
          FROM documents""" + where + ")"

  /** Verified near-dup edge set shared by d08/d11: LSH candidate pairs
    * re-checked with the exact integer Jaccard ≥ 0.5 rule (the same
    * one-rule-one-form threshold as d03/d05). Columns (a_id, b_id).
    */
  private def verifiedDupEdges(docs: DataFrame): DataFrame = {
    val cands = lshCandidates(minhashSigs(docs))
    val sets = docs.select(col("doc_id"),
      TextFns.shingleHashes(col("text"), 3).as("sh"))
    cands
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("a_sh")),
        Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_sh"), col("b_sh"))).as("inter"),
        size(col("a_sh")).as("sza"), size(col("b_sh")).as("szb"))
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      // same exact integer threshold as d03/d05 (J >= 0.5, uni > 0
      // excludes shingle-less 0/0 collisions) — one rule, one form
      .filter(col("uni") > 0 && col("inter") * 2 >= col("uni"))
      .select(col("a_id"), col("b_id"))
  }

  /** Oracle twin of [[verifiedDupEdges]] + transitive closure: CTEs
    * `edges` (all-pairs exact Jaccard ≥ 0.5 — the oracle needs no LSH),
    * `adj`, `reach`, and `labels` = (doc_id, group_rep) for every
    * dup-involved doc. Prepend `sh3Cte()`.
    */
  private def ccLabelCtes: String = """
        edges AS (
          SELECT a_id, b_id FROM (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   len(list_intersect(a.sh, b.sh)) AS inter,
                   len(list_distinct(list_concat(a.sh, b.sh))) AS uni
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id) e
          WHERE uni > 0 AND inter * 2 >= uni),
        adj AS (
          SELECT a_id AS src, b_id AS dst FROM edges
          UNION ALL SELECT b_id, a_id FROM edges),
        reach AS (
          WITH RECURSIVE r(doc_id, lbl) AS (
            SELECT src, src FROM adj
            UNION
            SELECT a.src, r.lbl FROM adj a JOIN r ON a.dst = r.doc_id)
          SELECT * FROM r),
        labels AS (
          SELECT doc_id, min(lbl) AS group_rep FROM reach GROUP BY doc_id)"""

  /** Cross-family entry (d08/d11 here, p09 in TrainingPipeline): run the
    * shared verified-edge pipeline + star CC, returning (doc_id,
    * group_rep) for every dup-involved doc. The edge set is persisted
    * across CC's first-round branches and released before returning
    * (labels are localCheckpoint products, so nothing downstream
    * recomputes the LSH pipeline).
    */
  def dupGroupLabels(docs: DataFrame): DataFrame = {
    val edges = verifiedDupEdges(docs).persist()
    val (labels, _) = ConnectedComponents.run(edges)
    edges.unpersist()
    labels
  }

  /** Oracle twin of [[dupGroupLabels]]: the `sh` … `labels` CTE chain
    * (no WITH keyword) for reuse outside this file.
    */
  def dupGroupLabelSql: String = sh3Cte() + "," + ccLabelCtes

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---------------------------------------------------------------- d01
    // Exact dedup: hash-groupBy on content digest, keep lowest doc_id.
    // One shuffle; at 100 TB, group on the digest (never the raw text).
    "d01_dedup_exact" -> QueryDef(
      build = (s, d) =>
        t(s, d, "documents")
          .groupBy(md5(col("text").cast("binary")).as("content_hash"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
          .orderBy("keep_id"),
      oracle = Some("""
        SELECT md5(text) AS content_hash,
               min(doc_id) AS keep_id, count(*) AS dup_cnt
        FROM documents GROUP BY md5(text) ORDER BY keep_id""")),

    // ---------------------------------------------------------------- d02
    // Fingerprint dedup: token-set digest (order/whitespace-insensitive).
    "d02_dedup_fingerprint" -> QueryDef(
      build = (s, d) =>
        t(s, d, "documents")
          .groupBy(md5(concat_ws(" ",
              array_sort(array_distinct(TextFns.tokens(col("text")))))
              .cast("binary")).as("fingerprint"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
          .orderBy("keep_id"),
      oracle = Some("""
        SELECT md5(array_to_string(list_sort(list_distinct(
                 string_split_regex(lower(trim(text)), '\s+'))), ' '))
                 AS fingerprint,
               min(doc_id) AS keep_id, count(*) AS dup_cnt
        FROM documents
        GROUP BY 1 ORDER BY keep_id""")),

    // ---------------------------------------------------------------- d03
    // MinHash + LSH near-dup pipeline: shingle→minhash is entirely
    // map-side (native expressions); the only wide shuffle is the
    // (band,hash) bucket join. Never O(n²). Candidates are then verified
    // with exact shingle Jaccard (array_intersect on the per-doc hash
    // sets — cheap because it only runs on the candidate pairs), so the
    // output is the true J >= 0.5 pair set and carries a full SQL
    // oracle. With 16 bands of 2 rows, P(miss | J) = (1-J^2)^16 — under
    // 1e-10 for the J >= 0.9 pairs real dedup targets — so LSH recall
    // does not perturb the hash-compare.
    "d03_dedup_minhash_lsh" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
        val cands = lshCandidates(minhashSigs(docs))
        val sets = docs.select(col("doc_id"),
          TextFns.shingleHashes(col("text"), 3).as("sh"))
        cands
          .join(sets.select(col("doc_id").as("a_id"), col("sh").as("a_sh")),
            Seq("a_id"))
          .join(sets.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
            Seq("b_id"))
          .select(col("a_id"), col("b_id"),
            size(array_intersect(col("a_sh"), col("b_sh"))).as("inter"),
            size(col("a_sh")).as("sza"), size(col("b_sh")).as("szb"))
          .withColumn("uni", col("sza") + col("szb") - col("inter"))
          // uni > 0 excludes the shingle-less 0/0 case (sub-3-token
          // docs collide on empty minhash signatures; the old float
          // filter dropped them as NaN — the integer form must too)
          .filter(col("uni") > 0 && col("inter") * 2 >= col("uni"))
          .select(col("a_id"), col("b_id"),
            exactJaccard4(col("inter"), col("uni")).as("jaccard"))
          .orderBy("a_id", "b_id")
      },
      oracle = Some("\n        WITH" + sh3Cte() + """,
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 len(list_intersect(a.sh, b.sh)) AS inter,
                 len(list_distinct(list_concat(a.sh, b.sh))) AS uni
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        SELECT a_id, b_id, """ +
        sqlExactJaccard4("inter", "uni") + """ AS jaccard
        FROM pairs WHERE uni > 0 AND inter * 2 >= uni
        ORDER BY a_id, b_id""")),

    // ---------------------------------------------------------------- d04
    // SimHash near-dup: 64-bit signature from token hashes; pigeonhole
    // blocking on 4×16-bit chunks (hamming ≤ 3 ⇒ one chunk equal; the
    // chunks serve as candidate buckets, verified at true hamming ≤ 8).
    // Pipeline factored as simhashPairs() so DedupSpec pins it with
    // planted-truth corpora: identical-token-multiset docs MUST pair at
    // hamming 0, the output MUST equal the brute-force
    // hamming ≤ 8 ∧ shares-a-chunk pair set, and every hamming ≤ 3 pair
    // MUST be present (the pigeonhole law).
    // Fully oracled since the token hash moved to md5-prefix
    // (SimHashExpr): the oracle recomputes the identical 64-bit
    // signature — ('0x' || substr(md5(t),1,16))::UBIGINT is bit-for-bit
    // SimHashExpr's big-endian first-8-bytes hash — then the same
    // chunk-blocked pair join and hamming verify.
    "d04_dedup_simhash" -> QueryDef(
      build = (s, d) => simhashPairs(t(s, d, "documents"), 8),
      oracle = Some("""
        WITH tk AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
          FROM documents),
        h AS (
          SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h
          FROM tk),
        bits AS (
          SELECT doc_id, u.b,
                 sum(CASE WHEN (h >> u.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM h, unnest(generate_series(0, 63)) AS u(b)
          GROUP BY doc_id, u.b),
        sig AS (
          SELECT doc_id,
                 bit_or(CASE WHEN vote > 0 THEN (1::UBIGINT << b)
                             ELSE 0::UBIGINT END) AS sim
          FROM bits GROUP BY doc_id),
        ch AS (
          SELECT doc_id, sim, u.c AS chunk,
                 (sim >> (u.c * 16)) & 65535 AS chv
          FROM sig, unnest([0, 1, 2, 3]) AS u(c)),
        pairs AS (
          SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                 CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS hamming
          FROM ch x JOIN ch y
            ON x.chunk = y.chunk AND x.chv = y.chv AND x.doc_id < y.doc_id)
        SELECT a_id, b_id, hamming FROM pairs
        WHERE hamming <= 8 ORDER BY a_id, b_id""")),

    // ---------------------------------------------------------------- d05
    // Exact n-gram Jaccard similarity join, blocked by lang. The verify
    // step of the dedup pipeline; SQL-expressible, so it carries the
    // oracle for the whole shingle pipeline.
    "d05_ngram_jaccard" -> QueryDef(
      build = (s, d) => {
        // Inverted-index set-similarity join (VernicaJoin-style): explode
        // hashed shingles, self-join on (lang, shingle-hash), and the
        // intersection size |A∩B| falls out of a count aggregation — no
        // per-pair set operations, no array payloads in any shuffle
        // (the join's second exchange carries only aggregated (a,b)
        // pairs thanks to map-side partial counts), and pairs sharing
        // zero shingles (J=0) never materialize. Union via
        // |A|+|B|−|A∩B|. Identical output to the naive all-pairs
        // formulation (modulo 64-bit hash collisions).
        //
        // PPJoin prefix filtering (index only the |sh|-⌈t·|sh|⌉+1
        // smallest hashes) was implemented and MEASURED SLOWER both ways
        // it can be wired: candidates + array rejoin recomputes the
        // shingle map 3x (2.4–3.7 s vs 1.2–1.6 s warm at sf0.1), and the
        // Vernica-kernel form (full array carried per prefix entry)
        // inflates the index shuffle ~25x. Prefix filtering only pays
        // when the shingle-frequency distribution has hot keys whose n²
        // join blow-up dominates; this corpus's is flat. Kept thin.
        val sets = t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            TextFns.shingleHashes(col("text"), 3).as("sh"))
          .withColumn("sz", size(col("sh")))
        // r12: the (h, lang)-keyed SELF-JOIN is gone — invPairCounts
        // groups the index by the same keys (one exchange either way),
        // drops singleton shingles before pair generation and counts
        // pairs on the packed key (see the helper's equivalence note).
        // The per-doc set sizes rejoin by doc_id AFTER the count
        // aggregation (plain equi-joins — sizes scale with the corpus,
        // so no broadcast), keeping every wide shuffle payload-free.
        val inv = sets.select(col("doc_id"), col("lang"),
          explode(col("sh")).as("h"))
        val sizes = sets.select(col("doc_id"), col("sz"))
        invPairCounts(inv, GraphOps.maxIdOf(s, d, "documents", "doc_id"),
          col("h"), col("lang"))
          .join(sizes.withColumnRenamed("doc_id", "a_id")
            .withColumnRenamed("sz", "sza"), Seq("a_id"))
          .join(sizes.withColumnRenamed("doc_id", "b_id")
            .withColumnRenamed("sz", "szb"), Seq("b_id"))
          .withColumn("uni", col("sza") + col("szb") - col("inter"))
          // uni > 0: the build's inverted index cannot pair shingle-less
          // docs, so the oracle's cross join must exclude them too
          .filter(col("uni") > 0 && col("inter") * 2 >= col("uni"))
          .select(col("a_id"), col("b_id"),
            exactJaccard4(col("inter"), col("uni")).as("jaccard"))
          .orderBy("a_id", "b_id")
      },
      oracle = Some("\n        WITH" + sh3Cte(", lang") + """,
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 len(list_intersect(a.sh, b.sh)) AS inter,
                 len(list_distinct(list_concat(a.sh, b.sh))) AS uni
          FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        SELECT a_id, b_id, """ +
        sqlExactJaccard4("inter", "uni") + """ AS jaccard
        FROM pairs WHERE uni > 0 AND inter * 2 >= uni
        ORDER BY a_id, b_id""")),

    // ---------------------------------------------------------------- d06
    // Embedding-cosine near-dup pairs, blocked by label (cluster id) so
    // the pair space is per-cluster, not global.
    "d06_dedup_embedding" -> QueryDef(
      build = (s, d) => {
        // Norms are computed once per vector (not once per pair); only the
        // dot product runs in the pair loop.
        val e = t(s, d, "embeddings")
          .withColumn("nrm", VectorFns.norm(col("embedding")))
        e.alias("x")
          .join(e.alias("y"),
            col("x.label") === col("y.label") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
            // nullif: a zero vector (norm 0) scores NULL, never ANSI
            // DIVIDE_BY_ZERO (VectorFns.cosine scaladoc; sf data has
            // no zero vectors so oracle-gated outputs are unchanged)
            (VectorFns.dot(col("x.embedding"), col("y.embedding")) /
              nullif(col("x.nrm") * col("y.nrm"), lit(0.0))).as("raw_c"))
          .filter(col("raw_c") >= 0.3)
          .select(col("a_id"), col("b_id"), round(col("raw_c"), 4).as("cos"))
          .orderBy("a_id", "b_id")
      },
      oracle = Some("""
        WITH p AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]) AS raw_c
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id)
        SELECT a_id, b_id, round(raw_c, 4) AS cos
        FROM p WHERE raw_c >= 0.3 ORDER BY a_id, b_id""")),

    // ---------------------------------------------------------------- d07
    // Rolling-hash winnowing fingerprints (Schleimer et al.): token-hash
    // stream → minimum of every w-window → distinct minima are the doc's
    // fingerprints. Map-side linear; docs sharing a fingerprint are dup
    // candidates. Fingerprint VALUES depend on the engine's hash
    // function, so the oracled surface is the winnowing guarantee
    // instead: with W windows (W = max(n_tokens - w + 1, 1)), every
    // window contributes a minimum and each fingerprint is the hash of
    // some token, so 1 <= n_fingerprints <= min(W, n_distinct_tokens)
    // (repeated tokens repeat hash values, so W/w is NOT a valid lower
    // bound). The oracle recomputes both bounds from the text and pins
    // fp_ok = TRUE for every document.
    "d07_winnow_fingerprint" -> QueryDef(
      build = (s, d) => {
        import org.apache.spark.sql.GraftShim
        val w = 8
        // winnow over the ordered token-hash STREAM (dups kept — unlike
        // shingleHashes, which dedupes for set semantics)
        val fps = GraftShim.column(graft.plans.WinnowExpr(
          GraftShim.expression(GraftShim.column(graft.plans.NGramHashExpr(
            GraftShim.expression(TextFns.tokens(col("text"))), 1))), w))
        val nTok = size(TextFns.tokens(col("text"))).cast("long")
        val nDistinct =
          size(array_distinct(TextFns.tokens(col("text")))).cast("long")
        val nWin = greatest(nTok - lit(w) + 1, lit(1L))
        val nFp = size(col("fps")).cast("long")
        t(s, d, "documents")
          .select(col("doc_id"), fps.as("fps"), nTok.as("n_tokens"),
            least(nWin, nDistinct).as("fp_ub"))
          .select(col("doc_id"), col("n_tokens"),
            nFp.between(lit(1L), col("fp_ub")).as("fp_ok"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                    AS BIGINT) AS n_tokens,
               TRUE AS fp_ok
        FROM documents ORDER BY doc_id""")),

    // ---------------------------------------------------------------- d08
    // Transitive dup GROUPS: connected components over the verified
    // near-dup pair graph (d03's output), so each dup cluster keeps one
    // representative (its min doc_id) — the step that turns pairs into a
    // keep/drop decision. CC runs the large-star/small-star algorithm
    // (ConnectedComponents.scala): O(log n) rounds regardless of dup-
    // chain depth, vs the diameter-many rounds of naive min-label
    // propagation — the difference between 6 and 1000 shuffle rounds on
    // a pathological chained corpus. Oracle: recursive-CTE transitive
    // closure. The candidate graph is persisted so the first star round
    // doesn't recompute the LSH pipeline per branch.
    "d08_dedup_groups" -> QueryDef(
      build = (s, d) =>
        dupGroupLabels(t(s, d, "documents")).orderBy("doc_id"),
      oracle = Some("\n        WITH" + sh3Cte() + "," + ccLabelCtes + """
        SELECT doc_id, group_rep FROM labels ORDER BY doc_id""")),

    // ---------------------------------------------------------------- d11
    // The dedup DELIVERABLE: d08's transitive dup groups resolved to a
    // survivor list — per group keep the member with the most tokens
    // (most-complete-version policy; integer compare, min doc_id
    // tie-break, so the pick is portable across engines with no double
    // rounding in sight), singletons kept as their own group of 1.
    // Scale shape: the window shuffles ONLY dup-involved docs (the CC
    // label set); the singleton majority of a real corpus takes the
    // anti-join branch and never enters the window — at 100 TB the
    // keep-best pass costs one shuffle of the dup sliver, not a corpus
    // sort. This is the op a corpus user runs to GET the deduped corpus,
    // where d08 only reports the groups.
    "d11_dedup_survivors" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
        val toks = docs.select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
        val labels = dupGroupLabels(docs)
        val wRank = Window.partitionBy("group_rep")
          .orderBy(desc("n_tokens"), asc("doc_id"))
        val wSize = Window.partitionBy("group_rep")
        val keptDups = toks.join(labels, "doc_id")
          .withColumn("rk", row_number().over(wRank))
          .withColumn("group_size", count(lit(1)).over(wSize).cast("long"))
          .filter(col("rk") === 1)
          .select(col("doc_id"), col("group_rep"), col("group_size"),
            col("n_tokens"))
        val singles = toks
          .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("doc_id").as("group_rep"),
            lit(1L).as("group_size"), col("n_tokens"))
        singles.unionAll(keptDups).orderBy("doc_id")
      },
      oracle = Some("\n        WITH" + sh3Cte() + "," + ccLabelCtes + """,
        toks AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents),
        dup AS (
          SELECT t.doc_id, l.group_rep,
                 CAST(count(*) OVER (PARTITION BY l.group_rep) AS BIGINT)
                   AS group_size,
                 t.n_tokens,
                 row_number() OVER (PARTITION BY l.group_rep
                                    ORDER BY t.n_tokens DESC, t.doc_id) AS rk
          FROM toks t JOIN labels l ON t.doc_id = l.doc_id)
        SELECT doc_id, group_rep, group_size, n_tokens
        FROM dup WHERE rk = 1
        UNION ALL
        SELECT t.doc_id, t.doc_id AS group_rep,
               CAST(1 AS BIGINT) AS group_size, t.n_tokens
        FROM toks t LEFT JOIN labels l ON t.doc_id = l.doc_id
        WHERE l.doc_id IS NULL
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- d12
    // SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, "SemDeDup: Data-
    // efficient learning at web-scale through semantic deduplication"):
    // block by TRAINED k-means cell (the a03 coarse quantizer, shared
    // with a09), verify within-cell pairs by exact cosine, and report
    // every vector that has a lower-id near-duplicate in its cell — the
    // removal list under min-id survivorship. Differs from d06 (label-
    // blocked exact baseline) and d06b (random-hyperplane buckets): the
    // blocking here is LEARNED from the data, which is what SemDeDup
    // exploits — semantically close vectors concentrate in one cell, so
    // the verify touches ~n²/k pairs instead of n².
    //
    // Output is integer-safe (vec_id, cell, n_near, dup_of): counts and
    // ids only, no float column — the threshold compare on the raw
    // cosine is the single cross-engine float decision, same exposure
    // d06 already carries (sf margins are orders above ulp noise).
    //
    // Scale: within-cell pairing is quadratic in cell size BY DESIGN
    // (SemDeDup's verify step); the knob is k — production runs
    // k ≈ n / target_cell_size (SemDeDup uses ~10⁵ clusters for LAION-
    // scale corpora) so per-cell work is bounded and cells verify
    // embarrassingly parallel. The demo pins the shared 8-cell trained
    // quantizer for oracle parity.
    "d12_semantic_dedup" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val (_, assigned) = Similarity.ivfTrainedAssigned(e)
        val a = assigned.select(col("cell"), col("vec_id").as("a_id"),
          col("embedding").as("av"))
        val b = assigned.select(col("cell"), col("vec_id").as("b_id"),
          col("embedding").as("bv"))
        a.join(b, "cell").filter(col("a_id") < col("b_id"))
          .filter(VectorFns.cosine(col("av"), col("bv")) >= 0.3)
          .groupBy(col("b_id"), col("cell"))
          .agg(count(lit(1)).as("n_near"), min("a_id").as("dup_of"))
          .select(col("b_id").as("vec_id"), col("cell"), col("n_near"),
            col("dup_of"))
          .orderBy("vec_id")
      },
      oracle = Some(s"""${Similarity.IVF_ORACLE_CTES},
        pr AS (
          SELECT a.cell, a.vec_id AS a_id, b.vec_id AS b_id
          FROM asg2 a JOIN asg2 b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]) >= 0.3)
        SELECT b_id AS vec_id, cell, count(*) AS n_near, min(a_id) AS dup_of
        FROM pr GROUP BY b_id, cell ORDER BY vec_id""")),

    // --------------------------------------------------------------- d06b
    // The 100 TB path for embedding near-dup: (label × hyperplane-LSH
    // bucket) blocking with 1-bit multi-probe, then the SAME exact cosine
    // verify as d06 — so precision is exact and no block is O(n_label²):
    // each bucket holds ~1/2^planes of a label's vectors and a vector
    // joins only its own + `planes` flipped buckets. Recall is the LSH
    // collision probability (1 - θ/π per plane) — near 1 for real
    // near-dup thresholds (cos >= 0.9); at this synthetic corpus's loose
    // 0.3 threshold it is partial, and DedupSpec measures it against
    // exact d06. Fully DuckDB-oracled like a02: the seeded plane
    // constants are inlined into the SQL, so the bucketed-and-probed
    // result itself is hash-verified. The oracle pins nPlanes = 4 —
    // what the adaptive sizing resolves to at the fixed 500-row
    // embeddings table every SF ships (TESTDATA.md); the recall spec
    // and the ScaleProbe corpora (PROBE_r5, PROBE_r8) cover the
    // larger-corpus sizing behavior.
    "d06b_dedup_embedding_lsh" -> QueryDef(
      build = (s, d) => {
        // plane count sized to the corpus: each extra plane halves the
        // expected (label, bucket) block, so planes ≈ log2(rows/label /
        // targetBlock) keeps per-block pair work bounded as the corpus
        // grows (with 10 labels and target blocks of ~256 vectors).
        // Fixed planes are quadratic in disguise: 4-plane d06b measured
        // 22 s / 296 s for 50k / 200k vectors in r3 (cited in PROBE_r5;
        // blocks of n/10 make pair counts O(n²)); adaptive planes restore ~linear
        // growth while planted cos≈0.9999 pairs keep recall 1.0.
        // Corpus size via the memoized metadata-only count — one cheap
        // job per file set, never stale catalog stats (see corpusRows).
        val total = corpusRows(s, d, "embeddings")
        val nPlanes = math.max(4,
          math.ceil(math.log(total / 2560.0) / math.log(2.0)).toInt)
        val planes = graft.functions.VectorFns.hyperplanes(nPlanes, 64)
        def bucketOf(emb: org.apache.spark.sql.Column) =
          planes.zipWithIndex.map { case (p, i) =>
            when(VectorFns.dot(emb, typedLit(p.toSeq)) >= 0,
              shiftleft(lit(1), i)).otherwise(lit(0))
          }.reduce(_ bitwiseOR _)
        val e = t(s, d, "embeddings")
          .withColumn("nrm", VectorFns.norm(col("embedding")))
          .withColumn("bucket", bucketOf(col("embedding")))
        // multi-probe: each vector lands in its home bucket plus the
        // nPlanes 1-bit-flip buckets, so pairs whose buckets differ by
        // <= 1 bit (and some 2-bit pairs via a shared middle probe)
        // become candidates. One shuffle on (label, probe). The cosine
        // verify runs IN the join with the threshold filter directly
        // after, so candidate rows collapse before any further shuffle —
        // a thin-join + distinct-candidates + rejoin variant was
        // measured 10x slower here (materializing the candidate pair
        // set costs more than verifying it eagerly when blocks are
        // dense; the verify IS the cheapest filter).
        val probes = e.select(col("vec_id"), col("label"), col("nrm"),
          col("embedding"),
          explode(array((col("bucket") +:
            (0 until nPlanes).map(i =>
              col("bucket").bitwiseXOR(lit(1 << i)))): _*)).as("probe"))
          .repartition(col("label"), col("probe"))
        probes.alias("x")
          .join(probes.alias("y"),
            col("x.label") === col("y.label") &&
              col("x.probe") === col("y.probe") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
            // nullif: a zero vector (norm 0) scores NULL, never ANSI
            // DIVIDE_BY_ZERO (VectorFns.cosine scaladoc; sf data has
            // no zero vectors so oracle-gated outputs are unchanged)
            (VectorFns.dot(col("x.embedding"), col("y.embedding")) /
              nullif(col("x.nrm") * col("y.nrm"), lit(0.0))).as("raw_c"))
          .filter(col("raw_c") >= 0.3)
          .select(col("a_id"), col("b_id"), round(col("raw_c"), 4).as("cos"))
          .distinct()
          .orderBy("a_id", "b_id")
      },
      oracle = Some(s"""$d06bOracleCtes
        SELECT DISTINCT a_id, b_id, round(raw_c, 4) AS cos
        FROM cand WHERE raw_c >= 0.3
        ORDER BY a_id, b_id""")),

    // ---------------------------------------------------------------- d10
    // INCREMENTAL dedup: dedup a NEW batch against an existing corpus —
    // the production shape for a growing 100 TB corpus (daily increments
    // land against a base that must NOT be reshuffled per increment).
    // Here docs with doc_id % 7 == 3 stand in for the increment, the
    // rest for the base. Scale shape: the base is scanned ONCE and never
    // shuffled — the (small) batch digest set broadcasts to the base
    // scan, a left-semi keeps only base rows whose digest the batch also
    // has (a sliver), and only that sliver aggregates; the batch-side
    // decisions are then two more broadcast joins. Per-doc verdict:
    //   dup_of_base  — digest already in the base corpus
    //   dup_in_batch — first occurrence is an earlier doc of this batch
    //   new          — first sighting anywhere
    "d10_incremental_dedup" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
        val isNew = col("doc_id") % 7 === 3
        // digest over coalesce(text,''): a NULL-text doc keeps a real
        // digest (of the empty string) on BOTH engines, so it is
        // classified like any other doc instead of silently vanishing
        // through a NULL join key — an incremental-dedup audit must
        // never lose rows (ADVICE r6).
        val digest = md5(coalesce(col("text"), lit("")).cast("binary"))
        val batch = docs.filter(isNew)
          .select(col("doc_id"), digest.as("h"))
        val base = docs.filter(!isNew).select(digest.as("h"))
        // BROADCAST GUARD: the single-base-scan shape assumes the
        // increment's digest set is broadcast-sized (true for daily
        // batches, false for a mis-declared 10 TB "increment").
        // BroadcastGuard probes the batch row count; past its cap the
        // hints drop and the planner/AQE picks shuffle joins — slower
        // (the base gets shuffled) but it completes.
        val hint = BroadcastGuard.hint("d10", "increment", batch)
        // base-side work: one scan, broadcast-semi against batch digests,
        // distinct only over the matched sliver (never the full corpus)
        val inBase = base
          .join(hint(batch.select("h").distinct()), Seq("h"), "left_semi")
          .distinct()
          .withColumn("in_base", lit(1))
        // intra-batch first sighting (batch-sized, broadcastable)
        val firstInBatch = batch.groupBy("h").agg(min("doc_id").as("first_id"))
        batch
          .join(hint(inBase), Seq("h"), "left")
          .join(hint(firstInBatch), Seq("h"))
          .select(col("doc_id"),
            when(col("in_base") === 1, lit("dup_of_base"))
              .when(col("doc_id") > col("first_id"), lit("dup_in_batch"))
              .otherwise(lit("new")).as("status"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH batch AS (
          SELECT doc_id, md5(coalesce(text, '')) AS h FROM documents
          WHERE doc_id % 7 = 3),
        base AS (
          SELECT DISTINCT md5(coalesce(text, '')) AS h FROM documents
          WHERE doc_id % 7 <> 3),
        fib AS (
          SELECT h, min(doc_id) AS first_id FROM batch GROUP BY h)
        SELECT b.doc_id,
               CASE WHEN base.h IS NOT NULL THEN 'dup_of_base'
                    WHEN b.doc_id > f.first_id THEN 'dup_in_batch'
                    ELSE 'new' END AS status
        FROM batch b
        LEFT JOIN base ON b.h = base.h
        JOIN fib f ON b.h = f.h
        ORDER BY b.doc_id""")),

    // ---------------------------------------------------------------- d09
    // CROSS-MODAL near-dup: embedding-LSH candidates (d06b) verified by
    // exact text 3-gram Jaccard — the production shape for multimodal
    // corpora where either signal alone over-fires (paraphrases share
    // embeddings but not shingles; boilerplate shares shingles but not
    // embeddings). Pure composition: d06b's build supplies candidates,
    // the d05/d08 Jaccard verify confirms — candidate generation stays
    // bucketed, the verify join touches only candidate pairs.
    "d09_crossmodal_dedup" -> QueryDef(
      build = (s, d) => {
        // lazy persist (NOT an eager localCheckpoint): build stays
        // plan-only for tools like Explain; the cache materializes on
        // first execution, is shared by the three consumers below, and
        // is bounded — the slot unpersists the previous build's
        // candidates, and HotCache.releaseAll() frees the last one
        val cand = d09CandCache.register(
          defsMap("d06b_dedup_embedding_lsh").build(s, d))
        // shingle ONLY the docs that appear in a candidate pair: at
        // corpus scale the candidate set is a sliver of the corpus, so
        // the expensive tokenize+shingle pass must not run on everything.
        // Docs with < 3 tokens have no trigrams (shingles' contract) and
        // cannot be text-verified: dropped from sh, so their candidate
        // pairs fall out of the inner join on BOTH engines.
        val candIds = cand
          .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
          .distinct()
        val sh = t(s, d, "documents")
          .join(candIds, Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            graft.functions.TextFns.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"), array_distinct(
            graft.functions.TextFns.shingles(col("tk"), 3)).as("sh"))
        cand
          .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
          .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
          .withColumn("inter",
            size(array_intersect(col("a_sh"), col("b_sh"))))
          .withColumn("uni",
            size(col("a_sh")) + size(col("b_sh")) - col("inter"))
          .filter(col("inter") * 2 >= col("uni")) // J >= 0.5, exact
          .select(col("a_id"), col("b_id"), col("cos"),
            exactJaccard4(col("inter"), col("uni")).as("jaccard"))
          .orderBy("a_id", "b_id")
      },
      oracle = Some(s"""$d06bOracleCtes,
        pairs AS (
          SELECT DISTINCT a_id, b_id, round(raw_c, 4) AS cos
          FROM cand WHERE raw_c >= 0.3),""" +
        sh3Cte(where =
          "\n          WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 3") +
        """,
        jv AS (
          SELECT p.a_id, p.b_id, p.cos,
                 len(list_intersect(a.sh, b.sh)) AS inter,
                 len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                   AS uni
          FROM pairs p
          JOIN sh a ON a.doc_id = p.a_id
          JOIN sh b ON b.doc_id = p.b_id)
        SELECT a_id, b_id, cos, """ +
        sqlExactJaccard4("inter", "uni") + """ AS jaccard
        FROM jv WHERE inter * 2 >= uni
        ORDER BY a_id, b_id""")),

    // ---------------------------------------------------------------- d13
    // SPAN-level duplication audit (exact-substring dedup lite, the
    // Lee et al. 2022 "Deduplicating Training Data" shape): for every
    // doc, how many of its distinct 16-token spans also appear in some
    // OTHER doc — boilerplate headers, licence blocks and quoted chunks
    // that doc-level dedup (d01–d05) never sees. `dup_heavy` flags docs
    // whose shared-span mass is over half their span set: the removal
    // candidates a span-dedup pass would rewrite.
    //
    // Scale shape: spans are md5-hashed map-side (distinct per doc, so
    // a doc repeating its own boilerplate internally counts once), the
    // doc-frequency rollup is keyed by the 128-bit span hash — work is
    // linear in corpus span volume, never doc pairs. The join-back
    // touches only the SHARED sliver (spans with doc-frequency ≥ 2),
    // which is broadcast when it fits: per-doc span counts and shared
    // counts then need zero instance-level shuffles beyond the rollup.
    // (The alternative — joining every instance against the full
    // doc-frequency table — shuffles and sorts the whole span stream
    // twice; measured 4x the cpu at 200k docs.) Because the sliver's
    // size is data-dependent (boilerplate can put billions of spans
    // over any broadcast threshold), the same guard as d10 probes it
    // with an early-terminating limit scan and degrades to a shuffle
    // join instead of OOM-ing the driver.
    "d13_span_dedup" -> QueryDef(
      build = (s, d) => {
        val spans = t(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.TextFns.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 16)
          .select(col("doc_id"), explode(array_distinct(
            transform(graft.functions.TextFns.shingles(col("tk"), 16),
              g => md5(g.cast("binary"))))).as("h"))
        val shared = d13SharedCache.register(
          spans.groupBy("h").agg(count(lit(1)).as("nd"))
            .filter(col("nd") >= 2).select("h"))
        // the probe fills the cache slot, so the sliver is computed once
        val hint = BroadcastGuard.hint("d13", "shared-span set", shared)
        // r11 (§1.2/§2.4): ONE doc-keyed aggregate computes both counts.
        // The r10 shape re-ran the tokenize+shingle+md5 span pass twice
        // more (perDoc + sharedPerDoc) and joined the two aggregates
        // back together; a LEFT join against the (unique-keyed) sliver
        // tags each span instance in place — sharedness is then a
        // conditional count inside the same hash aggregate, and docs
        // with zero shared spans fall out as n_shared = 0 exactly as
        // the old coalesce-after-left-join did.
        val sliver = hint(shared).withColumn("is_sh", lit(1L))
        spans.join(sliver, Seq("h"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(coalesce(col("is_sh"), lit(0L))).as("n_shared"))
          .select(col("doc_id"), col("n_spans"), col("n_shared"),
            (col("n_shared") * 2 > col("n_spans")).as("dup_heavy"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH tk AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents),
        sp AS (
          SELECT DISTINCT doc_id, md5(array_to_string(t[i+1:i+16], ' ')) AS h
          FROM tk, unnest(range(len(t) - 15)) AS u(i)
          WHERE len(t) >= 16),
        shared AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2),
        per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
                FROM sp GROUP BY doc_id),
        shr AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
                FROM sp s JOIN shared USING (h) GROUP BY s.doc_id)
        SELECT p.doc_id, p.n_spans,
               coalesce(h.n_shared, 0) AS n_shared,
               coalesce(h.n_shared, 0) * 2 > p.n_spans AS dup_heavy
        FROM per p LEFT JOIN shr h USING (doc_id)
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- d14
    // Shared-prefix (boilerplate/template) detection: web-crawl corpora
    // are full of pages that OPEN identically — navigation chrome, license
    // headers, generated-report preambles — while the bodies differ, so
    // neither exact dedup (d01, whole-text digest) nor near-dup (d03,
    // global Jaccard) flags them. Group by the digest of the first-K
    // normalized tokens: groups of ≥2 docs share an opening; those whose
    // FULL digests also differ (n_bodies ≥ 2) are templated families —
    // the boilerplate-strip worklist. K=8 here so the synthetic sf docs
    // (~50 tokens) exercise the operator; production K is 32-64. One
    // prefix-digest-keyed shuffle, map-side partial — corpus-linear, and
    // the per-group state is three counters however hot a template is.
    "d14_prefix_dedup" -> QueryDef(
      build = (s, d) => {
        val prefixHash = md5(concat_ws(" ",
          slice(TextFns.tokens(col("text")), 1, 8)).cast("binary"))
        t(s, d, "documents")
          .groupBy(prefixHash.as("prefix_hash"))
          .agg(count(lit(1)).as("n_docs"),
               countDistinct(md5(col("text").cast("binary"))).as("n_bodies"),
               min("doc_id").as("keep_id"))
          .filter(col("n_docs") >= 2)
          .select(col("prefix_hash"), col("n_docs"), col("n_bodies"),
            col("keep_id"), (col("n_bodies") >= 2).as("templated"))
          .orderBy("keep_id")
      },
      oracle = Some("""
        SELECT md5(array_to_string(
                 string_split_regex(lower(trim(text)), '\s+')[1:8], ' '))
                 AS prefix_hash,
               count(*) AS n_docs,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_bodies,
               min(doc_id) AS keep_id,
               count(DISTINCT md5(text)) >= 2 AS templated
        FROM documents
        GROUP BY 1 HAVING count(*) >= 2
        ORDER BY keep_id""")),

    // ---------------------------------------------------------------- d15
    // Soft dedup: instead of DROPPING exact duplicates (d01/d11), keep
    // every copy but weight it by 1/|copies| — so a document's total
    // training mass is independent of how many times the crawl caught it,
    // without the distribution shift hard dedup can introduce. One
    // digest-keyed aggregation for group sizes, one digest-keyed join
    // back — the same two-shuffle shape as p11, never doc-pairs. The
    // weight ships as exact integer parts-per-million (10^6 DIV n) so no
    // float rounding ever decides a sampling weight downstream; the
    // canonical flag marks d01's min-id survivor so a consumer can flip
    // between hard (filter canonical) and soft (weight_ppm) dedup from
    // ONE output.
    "d15_soft_dedup_weights" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), md5(col("text").cast("binary")).as("dg"))
        val grp = docs.groupBy("dg")
          .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_id"))
        docs.join(grp, "dg")
          .select(col("doc_id"), col("n_copies"),
            expr("CAST(1000000 DIV n_copies AS BIGINT)").as("weight_ppm"),
            (col("doc_id") === col("keep_id")).as("canonical"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id, md5(text) AS dg FROM documents),
        g AS (SELECT dg, count(*) AS n_copies, min(doc_id) AS keep_id
              FROM d GROUP BY dg)
        SELECT doc_id, n_copies,
               CAST(1000000 // n_copies AS BIGINT) AS weight_ppm,
               doc_id = keep_id AS canonical
        FROM d JOIN g USING (dg) ORDER BY doc_id""")),

    // ---------------------------------------------------------------- d16
    // CONTAINMENT (asymmetric Jaccard) join: pairs where one doc's
    // shingle set largely sits INSIDE the other's — quotes, aggregator
    // pages, doc+boilerplate wrappers. Symmetric Jaccard (d03/d05) is
    // structurally blind to these: a 10-shingle doc fully contained in a
    // 200-shingle doc scores J = 10/200 = 0.05, far under any dedup
    // threshold, while its containment is 1.0. Same inverted-index
    // shape as d05 (shingle-keyed join, counts = |A∩B|, per-doc sizes
    // rejoined AFTER aggregation — no array payload in any wide
    // shuffle); the keep rule 2·inter ≥ min(|A|,|B|) and both reported
    // containments are exact-integer forms (the d05 ratio-rounding
    // scheme with |A| / |B| as denominators), so no float decides a
    // pair and the 4-dp display is engine-exact.
    "d16_containment_join" -> QueryDef(
      build = (s, d) => {
        val sets = t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            TextFns.shingleHashes(col("text"), 3).as("sh"))
          .withColumn("sz", size(col("sh")))
        // r12: same invPairCounts rewrite as d05 (the operators share
        // the (h, lang)-keyed index shape; only the threshold differs).
        val inv = sets.select(col("doc_id"), col("lang"),
          explode(col("sh")).as("h"))
        val sizes = sets.select(col("doc_id"), col("sz"))
        invPairCounts(inv, GraphOps.maxIdOf(s, d, "documents", "doc_id"),
          col("h"), col("lang"))
          .join(sizes.withColumnRenamed("doc_id", "a_id")
            .withColumnRenamed("sz", "sza"), Seq("a_id"))
          .join(sizes.withColumnRenamed("doc_id", "b_id")
            .withColumnRenamed("sz", "szb"), Seq("b_id"))
          // containment of the smaller side ≥ 0.5, exact integers
          .filter(col("inter") * 2 >= least(col("sza"), col("szb")))
          .select(col("a_id"), col("b_id"),
            exactJaccard4(col("inter"), col("sza")).as("cont_a"),
            exactJaccard4(col("inter"), col("szb")).as("cont_b"))
          .orderBy("a_id", "b_id")
      },
      oracle = Some("\n        WITH" + sh3Cte(", lang") + """,
        s2 AS (SELECT doc_id, lang, sh, len(sh) AS sz FROM sh
               WHERE len(sh) > 0),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 len(list_intersect(a.sh, b.sh)) AS inter,
                 a.sz AS sza, b.sz AS szb
          FROM s2 a JOIN s2 b
            ON a.lang = b.lang AND a.doc_id < b.doc_id)
        SELECT a_id, b_id, """ +
        sqlExactJaccard4("inter", "sza") + """ AS cont_a,
               """ + sqlExactJaccard4("inter", "szb") + """ AS cont_b
        FROM pairs WHERE inter * 2 >= least(sza, szb)
        ORDER BY a_id, b_id""")),

    // ---------------------------------------------------------------- d17
    // Bloom-prefiltered incremental dedup — d10's OTHER scale regime.
    // d10 broadcasts the increment's digest set to the base scan: right
    // when the increment is small. When the increment is itself huge
    // (a backfill, a merged crawl), the exchanged object must not grow
    // with either side — so build Spark's native Bloom sketch over the
    // BASE digests (one base aggregation → a fixed bits-sized binary,
    // the same machinery Spark's runtime join pruning injects), prune
    // the batch with might_contain (map-side, no false negatives), and
    // exact-verify ONLY the surviving candidates against the base —
    // false positives die in the verify join, so the verdicts are
    // EXACTLY d10's (the oracle is d10's oracle). Verify-join traffic
    // is true-dups + the bloom's FP residue instead of the whole batch.
    "d17_bloom_incremental" -> QueryDef(
      build = (s, d) => {
        import org.apache.spark.sql.GraftShim
        val docs = t(s, d, "documents")
        val isNew = col("doc_id") % 7 === 3
        val digest = md5(coalesce(col("text"), lit("")).cast("binary"))
        val batch = docs.filter(isNew).select(col("doc_id"), digest.as("h"))
        val base = docs.filter(!isNew).select(digest.as("h"))
        val bloom = base.agg(
          GraftShim.bloomFilterAgg(col("h"), 1000000L).as("bf"))
        // map-side prune: candidates = batch rows the bloom says MAYBE;
        // the sketch rides as a scalar subquery (a literal once computed)
        val cand = batch
          .filter(GraftShim.mightContain(
            GraftShim.scalarSubquery(bloom), col("h")))
          .select("h").distinct()
        // exact verify only the candidate digests against the base; all
        // three broadcast sides are batch-bounded, so d10's guard over
        // the batch keeps them safe when the increment is huge
        val hint = BroadcastGuard.hint("d17", "increment", batch)
        val inBase = base.join(hint(cand), Seq("h"), "left_semi")
          .distinct()
          .withColumn("in_base", lit(1))
        val firstInBatch = batch.groupBy("h").agg(min("doc_id").as("first_id"))
        batch
          .join(hint(inBase), Seq("h"), "left")
          .join(hint(firstInBatch), Seq("h"))
          .select(col("doc_id"),
            when(col("in_base") === 1, lit("dup_of_base"))
              .when(col("doc_id") > col("first_id"), lit("dup_in_batch"))
              .otherwise(lit("new")).as("status"))
          .orderBy("doc_id")
      },
      // the bloom is transparent after exact verification: the oracle is
      // incremental dedup's ground truth, identical to d10's
      oracle = Some("""
        WITH batch AS (
          SELECT doc_id, md5(coalesce(text, '')) AS h FROM documents
          WHERE doc_id % 7 = 3),
        base AS (
          SELECT DISTINCT md5(coalesce(text, '')) AS h FROM documents
          WHERE doc_id % 7 <> 3),
        fib AS (
          SELECT h, min(doc_id) AS first_id FROM batch GROUP BY h)
        SELECT b.doc_id,
               CASE WHEN base.h IS NOT NULL THEN 'dup_of_base'
                    WHEN b.doc_id > f.first_id THEN 'dup_in_batch'
                    ELSE 'new' END AS status
        FROM batch b
        LEFT JOIN base ON b.h = base.h
        JOIN fib f ON b.h = f.h
        ORDER BY b.doc_id""")),

    // ---------------------------------------------------------------- d18
    // DETECTOR EVALUATION: precision/recall of the SimHash near-dup
    // detector (d04's hamming ≤ 8 pair set) against exact-Jaccard ≥ 0.5
    // ground truth (d05's inverted-index join, global shingle space) —
    // the harness that answers "is the cheap detector good enough to
    // replace the exact join on this corpus?" before committing a
    // 100 TB run. Both pair sets are the operators' own shapes (candidate-
    // bounded, never all-pairs); the join-back and ratio run on pair
    // COUNTS. Ratios use the exact integer 4-dp scheme (no float
    // division decides a reported metric); zero denominators (empty
    // corpus) report 0. SINGLE-PASS shape (r10): one full-outer join of
    // the two pair sets feeds ALL THREE counts as conditional aggregates
    // — the r9 crossJoin-of-three-aggregates executed each pair subtree
    // twice (detected: count + hit join; truth likewise).
    "d18_detector_eval" -> QueryDef(
      build = (s, d) => {
        val detected = simhashPairsUnsorted(t(s, d, "documents"), 8)
          .select(col("a_id"), col("b_id"), lit(1L).as("is_det"))
        val truth = jaccardTruth(s, d).withColumn("is_true", lit(1L))
        def ratio4(num: org.apache.spark.sql.Column,
                   den: org.apache.spark.sql.Column) =
          when(den === 0L, lit(0.0)).otherwise(
            floor((num * 20000L + den) / (den * 2L))
              .cast("long").cast("double") / 10000.0)
        detected.join(truth, Seq("a_id", "b_id"), "full_outer")
          .agg(
            coalesce(sum(coalesce(col("is_det"), lit(0L))), lit(0L))
              .as("n_detected"),
            coalesce(sum(coalesce(col("is_true"), lit(0L))), lit(0L))
              .as("n_true"),
            coalesce(sum(when(col("is_det") === 1L &&
              col("is_true") === 1L, 1L).otherwise(0L)), lit(0L))
              .as("n_hit"))
          .select(col("n_detected"), col("n_true"), col("n_hit"),
            ratio4(col("n_hit"), col("n_detected")).as("precision"),
            ratio4(col("n_hit"), col("n_true")).as("recall"))
      },
      oracle = Some("""
        WITH tk AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
          FROM documents),
        hh AS (
          SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h
          FROM tk),
        bits AS (
          SELECT doc_id, u.b,
                 sum(CASE WHEN (h >> u.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM hh, unnest(generate_series(0, 63)) AS u(b)
          GROUP BY doc_id, u.b),
        sig AS (
          SELECT doc_id,
                 bit_or(CASE WHEN vote > 0 THEN (1::UBIGINT << b)
                             ELSE 0::UBIGINT END) AS sim
          FROM bits GROUP BY doc_id),
        ch AS (
          SELECT doc_id, sim, u.c AS chunk,
                 (sim >> (u.c * 16)) & 65535 AS chv
          FROM sig, unnest([0, 1, 2, 3]) AS u(c)),
        det AS (
          SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
          FROM ch x JOIN ch y
            ON x.chunk = y.chunk AND x.chv = y.chv AND x.doc_id < y.doc_id
          WHERE bit_count(xor(x.sim, y.sim)) <= 8),""" +
        sh3Cte() + """,
        truth AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
            AND len(list_intersect(a.sh, b.sh)) * 2
                >= len(list_distinct(list_concat(a.sh, b.sh)))),
        hit AS (SELECT d.a_id FROM det d JOIN truth t
                ON t.a_id = d.a_id AND t.b_id = d.b_id),
        c AS (SELECT (SELECT count(*) FROM det) AS n_detected,
                     (SELECT count(*) FROM truth) AS n_true,
                     (SELECT count(*) FROM hit) AS n_hit)
        SELECT n_detected, n_true, n_hit,
               CASE WHEN n_detected = 0 THEN 0.0 ELSE
                 CAST((n_hit * 20000 + n_detected) // (n_detected * 2)
                   AS DOUBLE) / 10000 END AS precision,
               CASE WHEN n_true = 0 THEN 0.0 ELSE
                 CAST((n_hit * 20000 + n_true) // (n_true * 2)
                   AS DOUBLE) / 10000 END AS recall
        FROM c""")),

    // ---------------------------------------------------------------- d19
    // Detector THRESHOLD SWEEP: d18's single-point SimHash evaluation
    // unrolled over hamming ≤ {3, 8, 16} — the operating-curve a dedup
    // rollout reads to pick its threshold BEFORE burning a 100 TB pass
    // (strict = precise but deaf, loose = complete but trigger-happy).
    // One signature+chunk-block pass at the loosest threshold feeds all
    // three rows (filter per threshold over the SAME candidate set, so
    // the sweep costs one d04, not three); truth is the exact-Jaccard
    // inverted-index join, computed once. Ratios in d18's exact
    // round-half-up integer form. Constant 3-row output.
    "d19_threshold_sweep" -> QueryDef(
      build = (s, d) => {
        // SINGLE-PASS shape (r10, same as d18): full-outer join the
        // ≤16-hamming candidate set with the truth set ONCE, then every
        // (threshold × metric) cell is a conditional aggregate over the
        // joined rows — the whole sweep is one signature pass, one truth
        // pass, one join and one 1-row aggregate; the 3 report rows
        // explode from constants. A missing threshold row is impossible
        // by construction (the explode emits all three uncondition-
        // ally), so the zero-detection case needs no outer grid join.
        val pairs = simhashPairsUnsorted(t(s, d, "documents"), 16)
          .select(col("a_id"), col("b_id"), col("hamming"))
        val truth = jaccardTruth(s, d).withColumn("is_true", lit(1L))
        val j = pairs.join(truth, Seq("a_id", "b_id"), "full_outer")
        def nd(thr: Int) = coalesce(sum(
          when(col("hamming") <= thr, 1L).otherwise(0L)), lit(0L))
        def nh(thr: Int) = coalesce(sum(
          when(col("hamming") <= thr && col("is_true") === 1L, 1L)
            .otherwise(0L)), lit(0L))
        def ratio4(num: org.apache.spark.sql.Column,
                   den: org.apache.spark.sql.Column) =
          when(den === 0L, lit(0.0)).otherwise(
            floor((num * 20000L + den) / (den * 2L))
              .cast("long").cast("double") / 10000.0)
        val row = j.agg(
          nd(3).as("nd3"), nd(8).as("nd8"), nd(16).as("nd16"),
          nh(3).as("nh3"), nh(8).as("nh8"), nh(16).as("nh16"),
          coalesce(sum(coalesce(col("is_true"), lit(0L))), lit(0L))
            .as("nt"))
        row.select(explode(array(
            struct(lit(3L).as("thr"), col("nd3").as("n_detected"),
              col("nt").as("n_true"), col("nh3").as("n_hit")),
            struct(lit(8L).as("thr"), col("nd8").as("n_detected"),
              col("nt").as("n_true"), col("nh8").as("n_hit")),
            struct(lit(16L).as("thr"), col("nd16").as("n_detected"),
              col("nt").as("n_true"), col("nh16").as("n_hit"))))
            .as("r"))
          .select(col("r.thr").as("thr"),
            col("r.n_detected").as("n_detected"),
            col("r.n_true").as("n_true"), col("r.n_hit").as("n_hit"))
          .withColumn("precision", ratio4(col("n_hit"), col("n_detected")))
          .withColumn("recall", ratio4(col("n_hit"), col("n_true")))
          .orderBy("thr")
      },
      oracle = Some("""
        WITH tk AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
          FROM documents),
        hh AS (
          SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h
          FROM tk),
        bits AS (
          SELECT doc_id, u.b,
                 sum(CASE WHEN (h >> u.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM hh, unnest(generate_series(0, 63)) AS u(b)
          GROUP BY doc_id, u.b),
        sig AS (
          SELECT doc_id,
                 bit_or(CASE WHEN vote > 0 THEN (1::UBIGINT << b)
                             ELSE 0::UBIGINT END) AS sim
          FROM bits GROUP BY doc_id),
        ch AS (
          SELECT doc_id, sim, u.c AS chunk,
                 (sim >> (u.c * 16)) & 65535 AS chv
          FROM sig, unnest([0, 1, 2, 3]) AS u(c)),
        det0 AS (
          SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                 CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS hamming
          FROM ch x JOIN ch y
            ON x.chunk = y.chunk AND x.chv = y.chv AND x.doc_id < y.doc_id
          WHERE bit_count(xor(x.sim, y.sim)) <= 16),""" +
        sh3Cte() + """,
        truth AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
            AND len(list_intersect(a.sh, b.sh)) * 2
                >= len(list_distinct(list_concat(a.sh, b.sh)))),
        grid AS (SELECT CAST(unnest([3, 8, 16]) AS BIGINT) AS thr),
        nd AS (SELECT g.thr, count(*) AS n_detected
               FROM grid g JOIN det0 d ON d.hamming <= g.thr GROUP BY 1),
        nh AS (SELECT g.thr, count(*) AS n_hit
               FROM grid g JOIN det0 d ON d.hamming <= g.thr
               JOIN truth t ON t.a_id = d.a_id AND t.b_id = d.b_id
               GROUP BY 1),
        nt AS (SELECT count(*) AS n_true FROM truth)
        SELECT g.thr, coalesce(nd.n_detected, 0) AS n_detected,
               nt.n_true, coalesce(nh.n_hit, 0) AS n_hit,
               CASE WHEN coalesce(nd.n_detected, 0) = 0 THEN 0.0 ELSE
                 CAST((coalesce(nh.n_hit, 0) * 20000 + nd.n_detected)
                   // (nd.n_detected * 2) AS DOUBLE) / 10000 END AS precision,
               CASE WHEN nt.n_true = 0 THEN 0.0 ELSE
                 CAST((coalesce(nh.n_hit, 0) * 20000 + nt.n_true)
                   // (nt.n_true * 2) AS DOUBLE) / 10000 END AS recall
        FROM grid g LEFT JOIN nd ON nd.thr = g.thr
        LEFT JOIN nh ON nh.thr = g.thr CROSS JOIN nt
        ORDER BY g.thr""")),

    // ---------------------------------------------------------------- d20
    // MinHash CALIBRATION curve: signature-agreement estimate vs exact
    // Jaccard, bucketed by match count — "how tight is the estimator I'm
    // about to trust on 100 TB?" (d18/d19 evaluate a DETECTOR's
    // precision/recall; this evaluates the ESTIMATOR's error). Uses a
    // 16-hash Kirsch–Mitzenmacher MinHash (one md5 per shingle split
    // into two 48-bit limbs, h_i = h1 + i·h2 — bit-identical on both
    // engines; the production d03 signature uses the faster native
    // splitmix64 expression, which DuckDB cannot replay, so the
    // calibration harness gets its own portable family).
    // Pair domain = trigram-sharing pairs via the d05 inverted-index
    // shape; signatures are ONE explode + 16 min-aggregates (map-side
    // partial — the exchange carries |docs|x16 integers, not
    // shingle volume). Output ≤17 rows (match count 0..16). At 100 TB
    // this runs on a corpus sample — it is an eval harness, and its
    // verdict (est error per bucket) is scale-free.
    "d20_minhash_calibration" -> QueryDef(
      build = (s, d) => {
        // FILTER, not when-guard: a `when(size(tk) >= 3, shingles)`
        // branch re-evaluates the tokenize inside the conditional and
        // measured 3-4x the cpu of the plain filtered projection
        // (12.0 s vs 3.1 s for this subtree at sf0.1) — and a <3-token
        // doc can never reach the pair/signature output anyway. The
        // 3-consumer sets frame (inverted index, sizes, signatures) is
        // slot-cached so the tokenize+shingle pass runs once.
        val sets = d20SetsCache.register(t(s, d, "documents")
          .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"),
            array_distinct(TextFns.shingles(col("tk"), 3)).as("sh"))
          .withColumn("sz", size(col("sh"))))
        // r12 (VERDICT item 7, measured A/B in OPTIMIZATION_r12.md):
        // the r11 shape self-joined the inverted index on the shingle
        // hash — every SINGLE-OCCURRENCE shingle (the long tail of the
        // distribution) was still shuffled, sorted and probed by the
        // sort-merge join only to emit nothing. invPairCounts groups
        // the index by the same hash instead (one exchange either way),
        // drops singleton groups before pair generation, and counts
        // pairs through the graph family's codegen'd generator + packed
        // key — see the helper's equivalence note.
        val inv = sets.select(col("doc_id"), explode(col("sh")).as("g"))
          .select(col("doc_id"), xxhash64(col("g")).as("h"))
        val sizes = sets.select(col("doc_id"), col("sz"))
        val pairs = invPairCounts(inv,
          GraphOps.maxIdOf(s, d, "documents", "doc_id"), col("h"))
          .join(sizes.withColumnRenamed("doc_id", "a_id")
            .withColumnRenamed("sz", "sza"), Seq("a_id"))
          .join(sizes.withColumnRenamed("doc_id", "b_id")
            .withColumnRenamed("sz", "szb"), Seq("b_id"))
          .withColumn("uni", col("sza") + col("szb") - col("inter"))
        // Kirsch–Mitzenmacher family: ONE md5 per shingle instance
        // split into two independent 48-bit limbs, h_i = h1 + i·h2
        // (exact in BIGINT: < 2^48 + 15·2^48 < 2^53). The r9 family
        // hashed 16 salted md5s per instance — 16× the digest work for
        // the same estimator quality (Kirsch & Mitzenmacher 2006 shows
        // the pairwise-combined family preserves the MinHash estimate).
        // 12 hex chars keep the arithmetic exact and portable: Spark
        // conv(hex,16,10) and DuckDB ('0x'||…)::UBIGINT produce the
        // same integer.
        val inst = sets.select(col("doc_id"), explode(col("sh")).as("g"))
          .withColumn("fh", md5(col("g")))
          .withColumn("h1",
            conv(substring(col("fh"), 1, 12), 16, 10).cast("long"))
          .withColumn("h2",
            conv(substring(col("fh"), 13, 12), 16, 10).cast("long"))
        val sigCols = (0 until 16).map(i =>
          min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
        val sigs = d20SigsCache.register(
          inst.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*))
        sigs.count() // eager: both join sides read it concurrently
        def renamed(p: String) = sigs.select(
          col("doc_id").as(s"${p}id") +:
            (0 until 16).map(i => col(s"m$i").as(s"$p$i")): _*)
        val matches = (0 until 16)
          .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _)
        pairs
          .join(renamed("a"), col("a_id") === col("aid"))
          .join(renamed("b"), col("b_id") === col("bid"))
          .select(matches.as("matches"),
            expr("inter * 10000 div uni").as("tbp"))
          .groupBy("matches")
          .agg(count(lit(1)).as("n_pairs"), sum(col("tbp")).as("sbp"))
          .select(col("matches"),
            expr("matches * 10000 div 16").as("est_bp"),
            col("n_pairs"),
            expr("sbp div n_pairs").as("avg_true_bp"))
          .orderBy("matches")
      },
      oracle = Some("\n        WITH" + sh3Cte() + """,
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 len(list_intersect(a.sh, b.sh)) AS inter,
                 len(list_distinct(list_concat(a.sh, b.sh))) AS uni
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.sh, b.sh)) >= 1),
        sig AS (
          SELECT z.doc_id, u.i,
                 min(CAST(('0x' || substr(md5(z.g), 1, 12))::UBIGINT
                   + u.i * ('0x' || substr(md5(z.g), 13, 12))::UBIGINT
                   AS BIGINT)) AS m
          FROM (SELECT doc_id, unnest(sh) AS g FROM sh) z,
               unnest(generate_series(0, 15)) AS u(i)
          GROUP BY z.doc_id, u.i),
        mt AS (
          SELECT p.a_id, p.b_id, p.inter, p.uni,
                 CAST(count(*) FILTER (WHERE sa.m = sb.m) AS BIGINT)
                   AS matches
          FROM pairs p
          JOIN sig sa ON sa.doc_id = p.a_id
          JOIN sig sb ON sb.doc_id = p.b_id AND sb.i = sa.i
          GROUP BY 1, 2, 3, 4)
        SELECT matches, matches * 10000 // 16 AS est_bp,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(inter * 10000 // uni) AS BIGINT)
                 // CAST(count(*) AS BIGINT) AS avg_true_bp
        FROM mt GROUP BY matches ORDER BY matches""")),

    // ---------------------------------------------------------------- d21
    // CROSS-SOURCE duplication audit: exact-dup clusters (d01's content
    // digest) profiled by how many distinct SOURCES they span. A cluster
    // confined to one source is a re-crawl artifact; one spanning
    // several is syndication/mirroring — a different licensing and
    // provenance posture, and the input to "which source do we keep the
    // canonical from". Two hash aggregates (digest → cluster profile →
    // |distinct source-spans| rows); never materializes pairs. Reported
    // per span: cluster count, docs involved, redundant docs (docs minus
    // one canonical per cluster).
    "d21_multisource_dups" -> QueryDef(
      build = (s, d) => {
        val cl = t(s, d, "documents")
          .groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(count(lit(1)).as("n"),
            countDistinct("source").as("n_sources"))
          .filter(col("n") >= 2)
        cl.groupBy("n_sources")
          .agg(count(lit(1)).as("n_clusters"),
            sum("n").as("n_dup_docs"),
            (sum("n") - count(lit(1))).as("n_redundant"))
          .orderBy("n_sources")
      },
      oracle = Some("""
        WITH cl AS (
          SELECT md5(text) AS h, count(*) AS n,
                 CAST(count(DISTINCT source) AS BIGINT) AS n_sources
          FROM documents GROUP BY md5(text) HAVING count(*) >= 2)
        SELECT n_sources, count(*) AS n_clusters,
               CAST(sum(n) AS BIGINT) AS n_dup_docs,
               CAST(sum(n) - count(*) AS BIGINT) AS n_redundant
        FROM cl GROUP BY n_sources ORDER BY n_sources""")),

    // ---------------------------------------------------------------- d22
    // Duplication INFLATION audit: per source, raw token mass vs the
    // mass after global exact dedup with keep-first (min doc_id) — the
    // number that converts a dup RATE (d01/d21 count docs) into the
    // compute/storage multiplier a 100 TB budget is actually charged
    // (dup docs re-tokenize, re-embed, re-train). Keep-first is decided
    // by one digest-keyed min(doc_id) aggregate joined back (two
    // corpus-linear shuffles on the digest — never doc pairs, no
    // window); kept mass attributes to the KEEPER's source, so
    // Σ tok_kept over sources = corpus unique mass exactly. Inflation in
    // exact integer bp of the source's own raw mass (10000 = no dup
    // burden; a source whose canonical copies live elsewhere shows
    // tok_kept = 0 and inflation against the corpus-wide keeper set).
    // ---------------------------------------------------------------- d23
    // BLOCKING-WIDTH SWEEP: the operating curve behind the r11 scale
    // finding that fixed 16-bit simhash chunk blocking grows its
    // candidate volume ~n²/2^bits (PROBE_r11: ×20 candidates at ×10
    // corpus). Before a 100 TB rollout picks a width, this key measures
    // the cost/yield trade for k ∈ {2, 4, 8} chunks of 64/k bits over
    // the SAME 64-bit signature: fewer, wider chunks = fewer random
    // collisions (cost ~n²/2^(64/k) per chunk) but a weaker pigeonhole
    // guarantee (hamming ≤ k−1 certain; beyond that, luck). The detected
    // sets are NESTED by construction — a 16-bit chunk match implies
    // both its 8-bit halves match — so the sweep is a true monotone
    // curve (pinned in DedupSpec), and the nesting is also the
    // execution plan: ONE 8-bit-chunk blocking join generates the
    // superset candidate set, scheme membership for k=4/k=2 is a
    // bitwise test on each pair's signature XOR, and one ungrouped
    // aggregate emits all six counters — the sweep costs one d04 at
    // the finest width, not three exploded schemes.
    "d23_blocking_width" -> QueryDef(
      build = (s, d) => {
        import org.apache.spark.sql.GraftShim
        // r11 OPTIMIZATION ROUND: the three schemes are NESTED BY
        // CONSTRUCTION (an aligned 32-bit chunk match implies both its
        // 16-bit halves match, which imply their 8-bit halves), so ONE
        // blocking self-join at the finest width (k=8) generates a
        // candidate superset of all three schemes, and membership in
        // k=4 / k=2 is a pure bitwise test on the pair's signature XOR
        // — no per-scheme explode, no per-scheme join, and (r12) no
        // distinct at all: the minimal-witness chunk filter below
        // de-duplicates map-side (the r11-build shape exploded 14 chunk
        // rows per doc and joined/distinct'd every scheme's candidates
        // separately). Counts are identical:
        // "candidate of scheme k" ⟺ some aligned 64/k-bit chunk of the
        // XOR is zero, exactly the per-scheme join predicate.
        val sigs = t(s, d, "documents")
          .select(col("doc_id"), GraftShim.column(graft.plans.SimHashExpr(
            GraftShim.expression(TextFns.tokens(col("text"))))).as("sim"))
        val chunkStructs = (0 until 8).map(c => struct(
          lit(c).as("chunk"),
          shiftright(col("sim"), c * 8).bitwiseAND(lit(255L)).as("ch")))
        val chunks = sigs
          .select(col("doc_id"), col("sim"),
            explode(array(chunkStructs: _*)).as("cd"))
          .select(col("doc_id"), col("sim"),
            col("cd.chunk").as("chunk"), col("cd.ch").as("ch"))
          // pinned width (GraphOps.widen rationale): AQE would coalesce
          // this ~1 MB exchange to one task and serialize the block
          // join + distinct below, whose output is ~100× its input
          .transform(GraphOps.widen(_, col("chunk"), col("ch")))
        // scheme-k membership: some aligned 64/k-bit chunk of the XOR
        // is all-zero (k=8 holds for every candidate by construction).
        // hamming + the two membership flags are computed MAP-SIDE from
        // the signature XOR so the distinct shuffles two small ints and
        // two booleans per pair, never the high-entropy 64-bit XOR
        // (measured: carrying xorv through the exchange compressed ~40%
        // worse than the derived columns).
        def member(xorv: org.apache.spark.sql.Column, k: Int)
            : org.apache.spark.sql.Column = {
          val bits = 64 / k
          val mask = (1L << bits) - 1
          (0 until k).map(c =>
            shiftright(xorv, c * bits).bitwiseAND(lit(mask)) === 0L)
            .reduce(_ || _)
        }
        val xorv = col("x.sim").bitwiseXOR(col("y.sim"))
        // r12 (§2.4, replacing the r11 packed-key distinct): the
        // distinct is GONE. A pair appears once per matching 8-bit
        // chunk (≤8 duplicates), so keeping each join match iff its
        // join chunk is the pair's MINIMAL zero chunk of the XOR emits
        // exactly one row per candidate pair — the identical distinct
        // multiset. The measured dominant cost of this key (the ~39M-row
        // candidate distinct at sf0.1, ~n²/2⁸ growth — OPTIMIZATION_r11
        // "Not yet optimized") becomes a codegen'd bitwise filter in the
        // join stage; the only remaining aggregate is the six-counter
        // one-row reduction, and the doc_id packing (plus its 2³²
        // soundness probe) is unnecessary and deleted.
        val cand = chunks.alias("x")
          .join(chunks.alias("y"),
            col("x.chunk") === col("y.chunk") &&
              col("x.ch") === col("y.ch") &&
              col("x.doc_id") < col("y.doc_id"))
          .filter(col("x.chunk") === minZeroChunk(xorv, 8))
          .select(bit_count(xorv).cast("long").as("hamming"),
            member(xorv, 4).as("m4"), member(xorv, 2).as("m2"))
        val det = col("hamming") <= 8
        val agg = cand
          .agg(
            count(lit(1)).as("c8"),
            coalesce(sum(when(det, 1L).otherwise(0L)), lit(0L)).as("d8"),
            coalesce(sum(when(col("m4"), 1L).otherwise(0L)), lit(0L))
              .as("c4"),
            coalesce(sum(when(col("m4") && det, 1L).otherwise(0L)),
              lit(0L)).as("d4"),
            coalesce(sum(when(col("m2"), 1L).otherwise(0L)), lit(0L))
              .as("c2"),
            coalesce(sum(when(col("m2") && det, 1L).otherwise(0L)),
              lit(0L)).as("d2"))
        // re-emit the per-scheme rows; a scheme with zero candidates
        // contributes no row, matching the old groupBy(k) exactly
        agg.select(explode(array(
            struct(lit(2L).as("n_chunks"), lit(32L).as("chunk_bits"),
              col("c2").as("n_candidates"), col("d2").as("n_detected")),
            struct(lit(4L).as("n_chunks"), lit(16L).as("chunk_bits"),
              col("c4").as("n_candidates"), col("d4").as("n_detected")),
            struct(lit(8L).as("n_chunks"), lit(8L).as("chunk_bits"),
              col("c8").as("n_candidates"), col("d8").as("n_detected"))))
            .as("r"))
          .select(col("r.n_chunks").as("n_chunks"),
            col("r.chunk_bits").as("chunk_bits"),
            col("r.n_candidates").as("n_candidates"),
            col("r.n_detected").as("n_detected"))
          .filter(col("n_candidates") > 0)
          .select(col("n_chunks"), col("chunk_bits"), col("n_candidates"),
            col("n_detected"),
            expr("(n_detected * 20000 + n_candidates) div (n_candidates * 2)")
              .as("yield_bp"))
          .orderBy("n_chunks")
      },
      oracle = Some("""
        WITH tk AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
          FROM documents),
        hh AS (
          SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h
          FROM tk),
        bits AS (
          SELECT doc_id, u.b,
                 sum(CASE WHEN (h >> u.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM hh, unnest(generate_series(0, 63)) AS u(b)
          GROUP BY doc_id, u.b),
        sig AS (
          SELECT doc_id,
                 bit_or(CASE WHEN vote > 0 THEN (1::UBIGINT << b)
                             ELSE 0::UBIGINT END) AS sim
          FROM bits GROUP BY doc_id),
        sch AS (SELECT * FROM (VALUES (2, 32), (4, 16), (8, 8)) v(k, bits)),
        ch AS (
          SELECT s.doc_id, s.sim, sch.k, u.c AS chunk,
                 (s.sim >> (u.c * sch.bits)) &
                   ((1::UBIGINT << sch.bits) - 1) AS chv
          FROM sig s, sch, unnest(generate_series(0, sch.k - 1)) AS u(c)),
        cand AS (
          SELECT DISTINCT x.k, x.doc_id AS a_id, y.doc_id AS b_id,
                 bit_count(xor(x.sim, y.sim)) AS hamming
          FROM ch x JOIN ch y
            ON x.k = y.k AND x.chunk = y.chunk AND x.chv = y.chv
            AND x.doc_id < y.doc_id)
        SELECT CAST(k AS BIGINT) AS n_chunks,
               CAST(64 // k AS BIGINT) AS chunk_bits,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(coalesce(sum(CASE WHEN hamming <= 8 THEN 1 ELSE 0 END),
                 0) AS BIGINT) AS n_detected,
               CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT) ELSE
                 CAST((coalesce(sum(CASE WHEN hamming <= 8 THEN 1 ELSE 0
                   END), 0) * 20000 + count(*)) // (count(*) * 2)
                   AS BIGINT) END AS yield_bp
        FROM cand GROUP BY k ORDER BY n_chunks""")),

    "d22_dup_inflation" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(TextFns.tokens(col("text"))).cast("long").as("ntok"),
            md5(col("text").cast("binary")).as("dg"))
        val keep = docs.groupBy("dg").agg(min("doc_id").as("keep_id"))
        docs.join(keep, "dg")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L))
              .as("n_kept"),
            sum("ntok").as("tok_total"),
            sum(when(col("doc_id") === col("keep_id"), col("ntok"))
              .otherwise(0L)).as("tok_kept"))
          .select(col("source"), col("n_docs"), col("n_kept"),
            col("tok_total"), col("tok_kept"),
            expr("CASE WHEN tok_kept = 0 THEN 0 ELSE " +
              "tok_total * 10000 div tok_kept END").as("inflation_bp"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, source,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS ntok,
                 md5(text) AS dg
          FROM documents),
        k AS (SELECT dg, min(doc_id) AS keep_id FROM d GROUP BY dg)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_kept,
               CAST(sum(ntok) AS BIGINT) AS tok_total,
               CAST(sum(CASE WHEN doc_id = keep_id THEN ntok ELSE 0 END)
                 AS BIGINT) AS tok_kept,
               CAST(CASE WHEN sum(CASE WHEN doc_id = keep_id THEN ntok
                      ELSE 0 END) = 0 THEN 0
                    ELSE sum(ntok) * 10000 // sum(CASE WHEN doc_id = keep_id
                      THEN ntok ELSE 0 END) END AS BIGINT) AS inflation_bp
        FROM d JOIN k USING (dg)
        GROUP BY source ORDER BY source"""))
  )

  /** Name → QueryDef for intra-object composition (d09 reuses d06b). */
  private lazy val defsMap: Map[String, QueryDef] = defs.toMap

  /** d06b's oracle CTEs (shared with d09): same seeded planes the build
    * uses when the adaptive sizing resolves to 4 — true whenever
    * embeddings has <= 40,960 rows (shipped SFs carry 500–2,000; the
    * margin is ~20x, but REGENERATING a much larger embeddings table
    * desyncs this pinned-plane oracle from the adaptive build). The
    * cosine mirrors the build exactly — dot/(nrm_x*nrm_y), sequential
    * double accumulation on both engines.
    */
  private lazy val d06bOracleCtes: String = {
    val planes = graft.functions.VectorFns.hyperplanes(4, 64)
    val bucketSql = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], " +
        p.mkString("[", ", ", "]") +
        s"::DOUBLE[]) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""
        WITH e AS (
          SELECT vec_id, label, embedding,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) AS nrm,
                 $bucketSql AS bucket
          FROM embeddings),
        pr AS (
          SELECT vec_id, label, embedding, nrm,
                 CASE WHEN i = -1 THEN bucket
                      ELSE xor(bucket, 1 << i) END AS probe
          FROM e, unnest([-1, 0, 1, 2, 3]) AS u(i)),
        cand AS (
          SELECT x.vec_id AS a_id, y.vec_id AS b_id,
                 list_dot_product(x.embedding::DOUBLE[],
                                  y.embedding::DOUBLE[])
                   / (x.nrm * y.nrm) AS raw_c
          FROM pr x JOIN pr y
            ON x.label = y.label AND x.probe = y.probe
           AND x.vec_id < y.vec_id)"""
  }
}

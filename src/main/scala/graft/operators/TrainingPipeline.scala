package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.J — LLM-training-corpus preparation operators, the steps between a
  * filtered/deduped corpus (§2.D/§2.I) and a training run. All four are
  * exact, fully DuckDB-oracled, and shaped for 100 TB: every shuffle is
  * keyed by doc_id / shingle-hash / (lang, bucket) — nothing funnels a
  * corpus through one task or one driver.
  */
object TrainingPipeline {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** Tokens per training sequence for p02 (GPT-style concat-and-split). */
  private val SEQ_LEN = 2048

  /** p25's average-surprisal keep threshold in CENTI-nats/bigram (3.39 —
    * the shipped corpus's median, so the gate splits it nontrivially;
    * production would fit this to a held-out clean-corpus percentile).
    * Centi-units keep the keep-predicate in integer×decimal
    * cross-multiplication: sl·100 ≤ nb·THRESH, both sides exact.
    */
  private val NLL_THRESH_C = 339L

  /** (key, md5(8-token shingle)) rows of a document frame — the shared
    * building block of p01/p05/p06. md5 keeps the join key engine-
    * portable for the oracles; production would use xxhash64 (8-byte
    * keys) with the identical plan shape.
    */
  private def shingled(df: DataFrame, key: String): DataFrame =
    df.select(col(key), TextFns.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col(key), explode(TextFns.shingles(col("tk"), 8)).as("g"))
      .select(col(key), md5(col("g")).as("h"))

  /** (doc_id, h) rows where a corpus doc's shingle hits the benchmark
    * set (benchmark = every 97th doc). Shared by p01 (per-doc counts)
    * and p06 (distinct contaminated ids).
    */
  private def contaminationHits(docs: DataFrame): DataFrame = {
    val bench = shingled(docs.filter(col("doc_id") % 97 === 0), "doc_id")
      .select("h").distinct()
    shingled(docs.filter(col("doc_id") % 97 =!= 0), "doc_id").join(bench, "h")
  }

  /** The four repetition counts of token array `t` (longs) and the
    * Gopher-style flag over them: dup-token fraction > 0.7 OR top-bigram
    * fraction > 0.2, by integer cross-multiplication (the last column).
    * All in-row.
    */
  private def repetitionCols(t: Column): Seq[Column] = {
    val nTok = size(t).cast("long")
    val nDistinct = size(array_distinct(t)).cast("long")
    val top = TextFns.topBigram(t).cast("long")
    val nBigram = greatest(size(t) - 1, lit(0)).cast("long")
    val flagged = ((nTok - nDistinct) * 10 > nTok * 7 ||
                   top * 10 > nBigram * 2).cast("int")
    Seq(nTok.as("n_tok"), nDistinct.as("n_distinct"),
      top.as("top_bigram"), nBigram.as("n_bigram"), flagged.as("flagged"))
  }

  /** Per-doc repetition stats + flag (p04's rows), one projection per
    * row: no token or bigram shuffle. Precondition: doc_id is unique —
    * with duplicate doc_id rows each row is judged on its own, where a
    * grouped explode→groupBy(doc_id) form would pool them. Tokens come
    * from split on \s+, so they hold no space and no NULL: each bigram
    * string names one token pair and count(DISTINCT token) is
    * size(array_distinct(t)). NULL text has no tokens and gets no row;
    * docs with < 2 tokens carry zero bigram counts and stay unflagged.
    */
  private def repetitionStats(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      .select(col("doc_id") +: repetitionCols(col("t")): _*)

  /** p03's (and p06's) deterministic domain-mix predicate: keep iff the
    * doc's md5-derived draw v ∈ [0,256) is under the source's weight
    * threshold (source index mod 4 → 32/64/96/128 of 256).
    */
  private def mixKeep: Column =
    conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2),
      16, 10).cast("int") <
      (substring(col("source"), 4, 10).cast("int") % 4 + 1) * 32

  /** p06b's survivor-set cache slot (bounded; freed by
    * HotCache.releaseAll() in Verify/Bench/spec teardown).
    */
  private val survivorCache = HotCache.slot()

  // p28's (source, lang) token-mass grid: one fact pass, four consumers
  // (row totals, global totals, the column denominators, the join-back).
  private val ipfCache = HotCache.slot()

  /** Shared p06/p06b pipeline. `cacheSurvivors` is the 100 TB knob the
    * p06 scaladoc promises: the stage-1/2 survivor set feeds BOTH the
    * dedup keep-min aggregation and the final semi-join, so without a
    * cache its whole subtree (documents scan + in-row quality filter +
    * contamination anti-join) executes twice. p06b persists it —
    * PlanShapeSpec pins the scan-count drop, Bench measures the delta.
    */
  private def prepPipeline(s: SparkSession, d: String,
                           cacheSurvivors: Boolean): DataFrame = {
    val docs = t(s, d, "documents")
    // stage 2: decontamination vs the benchmark shingle set
    val contaminated = contaminationHits(docs).select("doc_id").distinct()
    // stage 1: repetition gate, a row filter keeping docs p04 would NOT
    // flag (same repetitionCols, so the two can never diverge; NULL text
    // gives a NULL flag and is dropped, as p04 gives it no row); then
    // stage 2's anti-join. `exists` over the one-element array binds the
    // tokens once: Spark inlines a projected column into a pushed-down
    // filter, and a filter has no common-subexpression elimination, so
    // a plain filter would split the text once per count.
    val surv1Plan = docs.filter(col("doc_id") % 97 =!= 0)
      .filter(exists(array(TextFns.tokens(col("text"))),
        t => repetitionCols(t).last === 0))
      .join(contaminated, Seq("doc_id"), "left_anti")
    val surv1 =
      if (cacheSurvivors) survivorCache.register(surv1Plan) else surv1Plan
    // stage 3: exact dedup among survivors (keep min doc_id)
    val keepers = surv1
      .groupBy(md5(col("text").cast("binary")).as("hh"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val surv2 = surv1.join(keepers, Seq("doc_id"), "left_semi")
    // stage 4: domain mix (same mixKeep predicate as p03)
    surv2.filter(mixKeep)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** One oracle for both p06 variants — caching must not change answers. */
  private val P06_ORACLE: String = """
        WITH tk AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents),
        tstat AS (
          SELECT doc_id, count(*) AS n_tok, count(DISTINCT w) AS n_distinct
          FROM (SELECT doc_id, unnest(t) AS w FROM tk) q GROUP BY doc_id),
        bgc AS (
          SELECT doc_id, array_to_string(t[i+1:i+2], ' ') AS g, count(*) AS c
          FROM tk, unnest(range(len(t) - 1)) AS u(i)
          WHERE len(t) >= 2 GROUP BY doc_id, g),
        bstat AS (
          SELECT doc_id, max(c) AS top_bigram, sum(c) AS n_bigram
          FROM bgc GROUP BY doc_id),
        clean AS (
          SELECT t.doc_id FROM tstat t LEFT JOIN bstat b ON t.doc_id = b.doc_id
          WHERE NOT ((n_tok - n_distinct) * 10 > n_tok * 7
                     OR coalesce(top_bigram, 0) * 10
                        > coalesce(n_bigram, 0) * 2)),
        sh AS (
          SELECT doc_id, md5(array_to_string(t[i+1:i+8], ' ')) AS h
          FROM tk, unnest(range(len(t) - 7)) AS u(i)
          WHERE len(t) >= 8),
        bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0),
        contaminated AS (
          SELECT DISTINCT s.doc_id FROM sh s JOIN bench b ON s.h = b.h
          WHERE s.doc_id % 97 <> 0),
        surv1 AS (
          SELECT d.* FROM documents d
          JOIN clean c ON d.doc_id = c.doc_id
          WHERE d.doc_id % 97 <> 0
            AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
        keepers AS (
          SELECT min(doc_id) AS doc_id FROM surv1 GROUP BY md5(text)),
        surv2 AS (
          SELECT s.* FROM surv1 s JOIN keepers k ON s.doc_id = k.doc_id)
        SELECT doc_id, lang, source FROM surv2
        WHERE 16*(strpos('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
            + (strpos('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
            < 32 * ((CAST(substr(source, 4) AS INT) % 4) + 1)
        ORDER BY doc_id"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---------------------------------------------------------------- p01
    // Test-set DECONTAMINATION: flag corpus docs sharing any 8-token
    // shingle with a benchmark/eval set (here: every 97th doc stands in
    // for the benchmark). The canonical pre-training hygiene step. Shape:
    // explode to (doc, shingle-hash), inner-join the distinct benchmark
    // shingle set on the hash, count per doc — shuffles keyed by the
    // hash, so work scales with shingle count, never pairs of docs.
    "p01_decontaminate" -> QueryDef(
      build = (s, d) =>
        contaminationHits(t(s, d, "documents"))
          .groupBy("doc_id")
          .agg(countDistinct("h").as("n_shared"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH tk AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, md5(array_to_string(t[i+1:i+8], ' ')) AS h
          FROM tk, unnest(range(len(t) - 7)) AS u(i)
          WHERE len(t) >= 8),
        bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0),
        corp AS (SELECT doc_id, h FROM sh WHERE doc_id % 97 <> 0)
        SELECT c.doc_id, CAST(count(DISTINCT c.h) AS BIGINT) AS n_shared
        FROM corp c JOIN bench b ON c.h = b.h
        GROUP BY c.doc_id ORDER BY doc_id""")),

    // ---------------------------------------------------------------- p02
    // Training-SEQUENCE PACKING: lay the corpus out as one token stream
    // per lang (deterministic md5 order) cut into SEQ_LEN-token training
    // sequences; emit each doc's (bin, bin_off). Exact global prefix sums
    // WITHOUT a per-lang single-task window — the same two-pass
    // (lang × 256-bucket) offset scheme as x02: tiny per-bucket totals
    // table broadcast back, local window per bucket. ~Flat per-row cost
    // as any one lang grows (measured for the x02 twin: PROBE_r5, r6, r8).
    "p02_seq_pack" -> QueryDef(
      build = (s, d) => {
        val base = t(s, d, "documents").select(
          col("doc_id"), col("lang"),
          size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
        TwoPassPrefix.withPrefix(base, "lang", "doc_id", col("ntok"))
          .select(col("lang"), col("doc_id"),
            expr(s"pfx div $SEQ_LEN").as("bin"),
            (col("pfx") % SEQ_LEN).as("bin_off"))
          .orderBy("lang", "bin", "bin_off", "doc_id")
      },
      oracle = Some(s"""
        SELECT lang, doc_id,
               CAST(pfx // $SEQ_LEN AS BIGINT) AS bin,
               CAST(pfx % $SEQ_LEN AS BIGINT) AS bin_off
        FROM (
          SELECT lang, doc_id,
            coalesce(sum(ntok) OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
          FROM (SELECT lang, doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                    AS BIGINT) AS ntok
                FROM documents) z) w
        ORDER BY lang, bin, bin_off, doc_id""")),

    // ---------------------------------------------------------------- p03
    // DOMAIN MIXING: deterministically downsample each source to its
    // target weight (here: weight class = source index mod 4 →
    // 32/64/96/128 out of 256). Keep iff the doc's md5-derived uniform
    // draw v ∈ [0,256) falls under the source's threshold — pure map-side
    // filter, zero shuffle, reproducible across runs/engines; exactly how
    // a 100 TB corpus gets re-weighted without a global sample() pass.
    "p03_domain_mix" -> QueryDef(
      build = (s, d) =>
        t(s, d, "documents")
          .filter(mixKeep)
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH h AS (
          SELECT doc_id, source,
            16*(strpos('0123456789abcdef',
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
             + (strpos('0123456789abcdef',
                  substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS v,
            32 * ((CAST(substr(source, 4) AS INT) % 4) + 1) AS k
          FROM documents)
        SELECT doc_id, source FROM h WHERE v < k ORDER BY doc_id""")),

    // ---------------------------------------------------------------- p04
    // REPETITION quality filter (Gopher-style): per-doc duplicate-token
    // and top-bigram concentration, kept as exact integer counts (no
    // cross-engine float rounding surface); `flagged` = dup-token
    // fraction > 0.7 OR top-bigram fraction > 0.2 via integer cross-
    // multiplication. One in-row projection per doc (native top-bigram
    // kernel, no token or bigram shuffle): map-only up to the orderBy.
    // Docs with <2 tokens carry zero bigram counts and stay unflagged —
    // every doc with non-NULL text gets a verdict.
    "p04_repetition_score" -> QueryDef(
      build = (s, d) =>
        repetitionStats(t(s, d, "documents")).orderBy("doc_id"),
      oracle = Some("""
        WITH tk AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents),
        tstat AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                 CAST(count(DISTINCT w) AS BIGINT) AS n_distinct
          FROM (SELECT doc_id, unnest(t) AS w FROM tk) q GROUP BY doc_id),
        bgc AS (
          SELECT doc_id, array_to_string(t[i+1:i+2], ' ') AS g, count(*) AS c
          FROM tk, unnest(range(len(t) - 1)) AS u(i)
          WHERE len(t) >= 2
          GROUP BY doc_id, g),
        bstat AS (
          SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram,
                 CAST(sum(c) AS BIGINT) AS n_bigram
          FROM bgc GROUP BY doc_id)
        SELECT t.doc_id, n_tok, n_distinct,
               CAST(coalesce(top_bigram, 0) AS BIGINT) AS top_bigram,
               CAST(coalesce(n_bigram, 0) AS BIGINT) AS n_bigram,
               CAST((n_tok - n_distinct) * 10 > n_tok * 7
                    OR coalesce(top_bigram, 0) * 10
                       > coalesce(n_bigram, 0) * 2 AS INT) AS flagged
        FROM tstat t LEFT JOIN bstat b ON t.doc_id = b.doc_id
        ORDER BY t.doc_id""")),

    // ---------------------------------------------------------------- p05
    // CROSS-SOURCE OVERLAP matrix: distinct shared 8-gram shingles per
    // source pair — "how much does src_i duplicate src_j", the corpus-
    // composition diagnostic behind mix decisions. After the per-source
    // distinct, each shingle carries at most one row per source, so the
    // per-shingle self-join fans out to <= C(sources,2) pairs — bounded
    // by the source count squared, never by docs. Shuffles keyed by
    // shingle hash and (src_a, src_b) only.
    "p05_source_overlap" -> QueryDef(
      build = (s, d) => {
        val sh = shingled(t(s, d, "documents"), "source").distinct()
        sh.alias("a").join(sh.alias("b"),
            col("a.h") === col("b.h") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(countDistinct(col("a.h")).as("shared"))
          .orderBy("src_a", "src_b")
      },
      oracle = Some("""
        WITH tk AS (
          SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT DISTINCT source, md5(array_to_string(t[i+1:i+8], ' ')) AS h
          FROM tk, unnest(range(len(t) - 7)) AS u(i)
          WHERE len(t) >= 8)
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(DISTINCT a.h) AS BIGINT) AS shared
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY a.source, b.source
        ORDER BY src_a, src_b""")),

    // ---------------------------------------------------------------- p06
    // END-TO-END prep flagship: repetition-quality gate (p04) →
    // benchmark decontamination (p01) → exact dedup keep-min (d01) →
    // domain mix (p03) as ONE declarative job. The gate is a row filter;
    // each later stage's shuffle is keyed by shingle-hash / content-hash
    // / doc_id — a DAG of hash-partitioned passes; no stage funnels the
    // corpus through a single task or the driver. The branches re-scan
    // `documents` (column-pruned each time; AQE reuses only identical
    // subplans); p06b below is the 100 TB deployment shape that persists
    // the survivor set instead. This is the job a corpus user actually
    // ships.
    "p06_prep_pipeline" -> QueryDef(
      build = (s, d) => prepPipeline(s, d, cacheSurvivors = false),
      oracle = Some(P06_ORACLE)),

    // ---------------------------------------------------------------- p08
    // Contamination ATTRIBUTION: not just "doc X is contaminated" (p01)
    // but WHICH benchmark doc leaked into it and how many distinct
    // 8-token shingles they share — the report an eval-integrity audit
    // actually reads (rank leaks, fix the worst offender first). Same
    // inverted-join shape as p01 with the benchmark doc_id carried
    // through: shuffles stay keyed by shingle hash then by the
    // (corpus, benchmark) id pair — pair fan-out is bounded by true
    // shared-shingle volume, never |corpus| × |benchmark|.
    "p08_contamination_attribution" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
        val bench = shingled(docs.filter(col("doc_id") % 97 === 0), "doc_id")
          .withColumnRenamed("doc_id", "bench_id").distinct()
        val corp = shingled(docs.filter(col("doc_id") % 97 =!= 0), "doc_id")
          .distinct()
        corp.join(bench, "h")
          .groupBy("doc_id", "bench_id")
          .agg(count(lit(1)).as("n_shared")) // distinct by construction
          .orderBy("doc_id", "bench_id")
      },
      oracle = Some("""
        WITH tk AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, md5(array_to_string(t[i+1:i+8], ' ')) AS h
          FROM tk, unnest(range(len(t) - 7)) AS u(i)
          WHERE len(t) >= 8)
        SELECT c.doc_id, b.doc_id AS bench_id,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM (SELECT * FROM sh WHERE doc_id % 97 <> 0) c
        JOIN (SELECT * FROM sh WHERE doc_id % 97 = 0) b ON c.h = b.h
        GROUP BY c.doc_id, b.doc_id
        ORDER BY c.doc_id, bench_id""")),

    // ---------------------------------------------------------------- p07
    // TOKEN-BUDGETED SELECTION: cap each source at a token budget,
    // keeping docs in a deterministic md5-shuffled priority order until
    // the budget fills — "give me ≤ N tokens per domain" — the step
    // between mix WEIGHTS (p03: fractions) and an actual corpus CUT
    // (absolute token counts). Prefix rule: keep doc iff the tokens of
    // ALL docs before it in priority order plus its own fit the budget
    // (pfx + ntok ≤ budget, pfx counting kept AND dropped predecessors)
    // — i.e. the stream is truncated at the first boundary crossing.
    // The prefix property keeps the rule one-pass, order-stable and
    // engine-portable. Exact prefix sums via the SAME two-pass
    // (source × 256-bucket) scheme as p02 — per-source totals stay
    // distributed over 256 parallel sort tasks, so one giant source
    // never funnels through a single window task at 100 TB.
    "p07_token_budget" -> QueryDef(
      build = (s, d) => {
        val budget = 1024L
        val base = t(s, d, "documents").select(
          col("doc_id"), col("source"),
          size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
        TwoPassPrefix.withPrefix(base, "source", "doc_id", col("ntok"))
          .filter(col("pfx") + col("ntok") <= budget)
          .select(col("source"), col("doc_id"), col("ntok"), col("pfx"))
          .orderBy("source", "pfx", "doc_id")
      },
      oracle = Some("""
        SELECT source, doc_id, ntok, pfx FROM (
          SELECT source, doc_id, ntok,
            CAST(coalesce(sum(ntok) OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS pfx
          FROM (SELECT source, doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                    AS BIGINT) AS ntok
                FROM documents) z) w
        WHERE pfx + ntok <= 1024
        ORDER BY source, pfx, doc_id""")),

    // --------------------------------------------------------------- p06b
    // p06 with the stage-1/2 survivor set persisted: the dedup keep-min
    // aggregation and the final semi-join both read ONE materialization
    // instead of re-running the documents scan + quality filter +
    // contamination anti-join subtree. At 100 TB that is two saved
    // full-corpus passes for survivor-set-sized memory/disk.
    // Identical oracle — caching must never change answers.
    "p06b_prep_pipeline_cached" -> QueryDef(
      build = (s, d) => prepPipeline(s, d, cacheSurvivors = true),
      oracle = Some(P06_ORACLE)),

    // ---------------------------------------------------------------- p09
    // LEAKAGE-SAFE train/val split: assign whole near-dup clusters
    // (d08's CC groups over the shared verified-edge pipeline) to ONE
    // side, so a val doc can never have a near-copy in train — the
    // eval-integrity property a doc-level hash split silently lacks.
    // The 90/10 draw hashes the GROUP REP with p03's md5 pattern, so
    // the split is deterministic, engine-portable and stable across
    // corpus growth (a doc's side changes only if its cluster does).
    // Scale shape: beyond the d08 pipeline itself, one left join of the
    // (dup-sliver-sized) label set against the corpus and a map-side
    // draw — singletons never shuffle.
    "p09_leakage_safe_split" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
        val labels = Dedup.dupGroupLabels(docs)
        val rep = docs.select(col("doc_id"))
          .join(labels, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("group_rep"), col("doc_id")).as("group_rep"))
        val draw = conv(substring(md5(col("group_rep").cast("string")
          .cast("binary")), 1, 2), 16, 10).cast("int")
        rep.select(col("doc_id"), col("group_rep"),
            when(draw < 230, lit("train")).otherwise(lit("val")).as("split"))
          .orderBy("doc_id")
      },
      oracle = Some("\n        WITH" + Dedup.dupGroupLabelSql + """,
        rep AS (
          SELECT d.doc_id, coalesce(l.group_rep, d.doc_id) AS group_rep
          FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id)
        SELECT doc_id, group_rep,
               CASE WHEN 16*(strpos('0123456789abcdef',
                        substr(md5(CAST(group_rep AS VARCHAR)), 1, 1)) - 1)
                       + (strpos('0123456789abcdef',
                        substr(md5(CAST(group_rep AS VARCHAR)), 2, 1)) - 1)
                       < 230
                    THEN 'train' ELSE 'val' END AS split
        FROM rep ORDER BY doc_id""")),

    // ---------------------------------------------------------------- p10
    // Quality-WEIGHTED sampling (soft filter): accept each doc with
    // probability proportional to its stopword-ratio quality signal
    // instead of t02's hard keep/drop — the "sample by classifier
    // score" shape real corpus pipelines use so borderline docs are
    // thinned, not erased. Draw v ∈ [0,256) from md5(doc_id) (p03's
    // pattern); accept iff v·n_tok < 1024·n_stop, i.e. P(accept) =
    // min(1, 4·stop_ratio) in exact integer cross-multiplication — no
    // division, no float, no rounding surface. Pure map-side
    // predicate: at 100 TB this costs one scan and zero shuffle, and
    // reruns pick the identical sample (draw is a pure function of
    // doc_id).
    "p10_quality_sample" -> QueryDef(
      build = (s, d) => {
        val toks = graft.functions.TextFns.tokens(col("text"))
        val stopArr = array(graft.functions.TextFns.stopwords.map(lit): _*)
        val draw = conv(substring(md5(col("doc_id").cast("string")
          .cast("binary")), 1, 2), 16, 10).cast("long")
        t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(toks).cast("long").as("n_tok"),
            size(filter(toks, tk => array_contains(stopArr, tk)))
              .cast("long").as("n_stop"),
            draw.as("v"))
          .filter(col("v") * col("n_tok") < lit(1024L) * col("n_stop"))
          .select("doc_id", "source", "n_tok", "n_stop")
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH f AS (
          SELECT doc_id, source,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS n_tok,
                 CAST(len(list_filter(
                        string_split_regex(lower(trim(text)), '\s+'),
                        tok -> tok IN ('the','a','of','and','to','in')))
                   AS BIGINT) AS n_stop,
                 16*(strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                  + (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS v
          FROM documents)
        SELECT doc_id, source, n_tok, n_stop FROM f
        WHERE v * n_tok < 1024 * n_stop
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- p11
    // Dedup-savings report per source — the curation metric a corpus
    // owner reads before paying for a dedup run: under d01's exact
    // dedup with global min-doc_id survivorship, how many documents and
    // TOKENS does each source lose? (Token-weighted, because a source
    // whose dups are its longest docs shrinks far more than its doc
    // count suggests.) All-integer output; tokenization is t01's exact
    // whitespace split, digests are d01's md5 — drift against either
    // operator is structurally impossible only for md5 (shared
    // expression); the token split is pinned by the oracle.
    //
    // Scale: ONE corpus scan → one hash shuffle on the digest (same key
    // d01 shuffles on) carrying only (digest, doc_id, source, n_tok) —
    // the unordered min-window needs no sort buffer beyond the hash
    // partition — then a map-side-partial agg on source. No joins, no
    // second scan.
    "p11_dedup_savings" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            md5(col("text").cast("binary")).as("h"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
        val removed = col("doc_id") =!=
          min("doc_id").over(Window.partitionBy("h"))
        docs.withColumn("removed", removed)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tok").as("n_tokens"),
            sum(when(col("removed"), 1L).otherwise(0L)).as("dup_docs"),
            sum(when(col("removed"), col("n_tok")).otherwise(0L))
              .as("dup_tokens"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, source, md5(text) AS h,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tok
          FROM documents),
        k AS (
          SELECT source, n_tok,
                 doc_id <> min(doc_id) OVER (PARTITION BY h) AS removed
          FROM d)
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
                 AS dup_docs,
               CAST(sum(CASE WHEN removed THEN n_tok ELSE 0 END) AS BIGINT)
                 AS dup_tokens
        FROM k GROUP BY source ORDER BY source""")),

    // ---------------------------------------------------------------- p12
    // Mixture REBALANCE by water-filling: equalize per-lang token mass
    // at the level the scarcest language can sustain — the multilingual
    // rebalancing step that runs before p02's packing. Target per lang
    // = K = min over langs of total tokens; each lang keeps docs with
    // P = K/T_lang via the deterministic md5 draw (v ∈ [0,65536) from 4
    // hex digits), so the kept stream is reproducible and incremental
    // (a doc's verdict never changes as other langs grow).
    //
    // Exactness at any scale: the keep predicate is the cross-
    // multiplication v·T_lang < K·65536 evaluated in DECIMAL(38,0) —
    // never a float ratio, and no int64 overflow even at 100 TB token
    // counts (v·T fits 38 digits for T up to ~10^33). Scale shape: the
    // per-lang totals table is #langs rows (broadcast back), the draw
    // is map-side, and the report agg is map-side partial — one corpus
    // scan, one tiny shuffle.
    "p12_mix_waterfill" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            size(graft.functions.TextFns.tokens(col("text")))
              .cast("long").as("ntok"))
        val totals = docs.groupBy("lang")
          .agg(sum("ntok").as("t_tok"), count(lit(1)).as("n_docs"))
        val kDf = totals.agg(min("t_tok").as("k_tok"))
        val draw = conv(substring(md5(col("doc_id").cast("string")
          .cast("binary")), 1, 4), 16, 10).cast("long")
        val keptAgg = docs.withColumn("v", draw)
          .join(broadcast(totals.select("lang", "t_tok")), "lang")
          .crossJoin(broadcast(kDf))
          .filter(col("v").cast("decimal(38,0)") * col("t_tok") <
            col("k_tok").cast("decimal(38,0)") * lit(65536L))
          .groupBy("lang")
          .agg(count(lit(1)).as("docs_kept"), sum("ntok").as("tokens_kept"))
        totals.crossJoin(broadcast(kDf))
          .join(keptAgg, Seq("lang"), "left")
          .select(col("lang"), col("n_docs").as("docs_total"),
            col("t_tok").as("tokens_total"), col("k_tok").as("tokens_target"),
            coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
            coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH docs AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS ntok
          FROM documents),
        totals AS (
          SELECT lang, CAST(sum(ntok) AS BIGINT) AS t_tok,
                 count(*) AS n_docs
          FROM docs GROUP BY lang),
        k AS (SELECT min(t_tok) AS k_tok FROM totals),
        kept AS (
          SELECT d.lang, count(*) AS docs_kept,
                 CAST(sum(d.ntok) AS BIGINT) AS tokens_kept
          FROM docs d JOIN totals t ON d.lang = t.lang CROSS JOIN k
          WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
                  * t.t_tok < k.k_tok * 65536
          GROUP BY d.lang)
        SELECT t.lang, t.n_docs AS docs_total, t.t_tok AS tokens_total,
               k.k_tok AS tokens_target,
               coalesce(kp.docs_kept, 0) AS docs_kept,
               coalesce(kp.tokens_kept, 0) AS tokens_kept
        FROM totals t CROSS JOIN k LEFT JOIN kept kp ON t.lang = kp.lang
        ORDER BY t.lang""")),

    // ---------------------------------------------------------------- p14
    // Snapshot diff: the incremental-ingestion delta between two crawl
    // snapshots of the same corpus (here: even doc_ids as the "old"
    // snapshot, odd as the "new" — the driver data has no snapshot
    // column). Content identity is the text digest, so a re-crawled
    // unchanged page lands in `common` wherever its id moved. One
    // digest-keyed full-outer join between two pre-aggregated digest
    // tables — both sides shrink to distinct digests BEFORE the join, so
    // at 100 TB the join moves one row per distinct document, not one
    // per copy, and the output is three constant rows. This is the
    // cheap gate in front of a full re-prep: `added`'s token mass is
    // exactly the work an incremental pipeline (d10's broadcast shape)
    // has to process.
    "p14_snapshot_diff" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"),
          md5(col("text").cast("binary")).as("h"),
          size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
        val old = docs.filter(col("doc_id") % 2 === 0).groupBy("h")
          .agg(count(lit(1)).as("od"), sum("ntok").as("ot"))
        val neu = docs.filter(col("doc_id") % 2 === 1).groupBy("h")
          .agg(count(lit(1)).as("nd"), sum("ntok").as("nt"))
        old.join(neu, Seq("h"), "full_outer")
          .select(
            when(col("od").isNull, lit("added"))
              .when(col("nd").isNull, lit("removed"))
              .otherwise(lit("common")).as("status"),
            coalesce(col("od"), lit(0L)).as("od"),
            coalesce(col("ot"), lit(0L)).as("ot"),
            coalesce(col("nd"), lit(0L)).as("nd"),
            coalesce(col("nt"), lit(0L)).as("nt"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_digests"),
               sum("od").as("old_docs"), sum("ot").as("old_tokens"),
               sum("nd").as("new_docs"), sum("nt").as("new_tokens"))
          .orderBy("status")
      },
      oracle = Some("""
        WITH docs AS (
          SELECT doc_id, md5(text) AS h,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS ntok
          FROM documents),
        old AS (SELECT h, count(*) AS od, CAST(sum(ntok) AS BIGINT) AS ot
                FROM docs WHERE doc_id % 2 = 0 GROUP BY h),
        neu AS (SELECT h, count(*) AS nd, CAST(sum(ntok) AS BIGINT) AS nt
                FROM docs WHERE doc_id % 2 = 1 GROUP BY h),
        j AS (
          SELECT CASE WHEN old.h IS NULL THEN 'added'
                      WHEN neu.h IS NULL THEN 'removed'
                      ELSE 'common' END AS status,
                 coalesce(od, 0) AS od, coalesce(ot, 0) AS ot,
                 coalesce(nd, 0) AS nd, coalesce(nt, 0) AS nt
          FROM old FULL OUTER JOIN neu ON old.h = neu.h)
        SELECT status, count(*) AS n_digests,
               CAST(sum(od) AS BIGINT) AS old_docs,
               CAST(sum(ot) AS BIGINT) AS old_tokens,
               CAST(sum(nd) AS BIGINT) AS new_docs,
               CAST(sum(nt) AS BIGINT) AS new_tokens
        FROM j GROUP BY status ORDER BY status""")),

    // ---------------------------------------------------------------- p13
    // Curriculum schedule: partition the corpus into fixed quality
    // stages — train on the cleanest mass first, append the tail last.
    // Stage membership is the t02 stopword signal gated in pure integer
    // cross-multiplication (10·stop ≥ tok ⇔ ratio ≥ 0.10, etc.), so the
    // assignment is engine-exact, rerun-stable, and entirely map-side;
    // the only shuffle carries four counter rows. The schedule row
    // (stage, docs, token mass, lang spread) is what a trainer's data
    // loader consumes to size each curriculum phase — thresholds are
    // constants, NOT corpus quantiles, so a shard processed on Tuesday
    // lands in the same stage when reprocessed on Friday.
    "p13_curriculum" -> QueryDef(
      build = (s, d) => {
        val toks = graft.functions.TextFns.tokens(col("text"))
        val stopArr = array(graft.functions.TextFns.stopwords.map(lit): _*)
        val nTok = size(toks).cast("long")
        val nStop = size(filter(toks, x => array_contains(stopArr, x)))
          .cast("long")
        // materialize the two counters ONCE before the when-chain: each
        // branch referencing the raw expressions would re-run the full
        // tokenize+filter per branch (probe-measured superlinear cpu)
        t(s, d, "documents")
          .select(col("lang"), nTok.as("ntok"), nStop.as("nstop"))
          .select(col("lang"),
            when(col("nstop") * 10 >= col("ntok"), 0L)
              .when(col("nstop") * 20 >= col("ntok"), 1L)
              .when(col("nstop") > 0, 2L).otherwise(3L).as("stage"),
            col("ntok"))
          .groupBy("stage")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
               countDistinct("lang").as("n_langs"))
          .orderBy("stage")
      },
      oracle = Some("""
        WITH t AS (
          SELECT lang,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS ntok,
                 CAST(len(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
                   AS BIGINT) AS nstop
          FROM documents)
        SELECT CAST(CASE WHEN nstop * 10 >= ntok THEN 0
                         WHEN nstop * 20 >= ntok THEN 1
                         WHEN nstop > 0 THEN 2 ELSE 3 END AS BIGINT) AS stage,
               count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM t GROUP BY 1 ORDER BY stage""")),

    // ---------------------------------------------------------------- p15
    // Scarce-language oversampling plan: p12's waterfill mirror — every
    // lang is raised toward the RICHEST lang's token mass M by integer
    // replication (factor = floor(M / T_lang), exact int64) plus a
    // fractional md5 draw for the remainder (v·T_lang < rem·65536 in
    // DECIMAL(38,0) — p12's overflow-free predicate). This is the REPORT
    // the epoch-mixer consumes: per lang, the base factor, how many docs
    // win an extra copy, and the resulting token mass; materializing the
    // copies is one explode(sequence(1, factor + extra)) on top. All
    // map-side against two broadcast scalars; rerun- and growth-stable
    // because the draw keys on doc_id alone.
    "p15_oversample" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
          size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
        val totals = docs.groupBy("lang")
          .agg(sum("ntok").as("t_tok"), count(lit(1)).as("n_docs"))
        val mDf = totals.agg(max("t_tok").as("m_tok"))
        val draw = conv(substring(md5(col("doc_id").cast("string")
          .cast("binary")), 1, 4), 16, 10).cast("long")
        val base = docs.withColumn("v", draw)
          .join(broadcast(totals.select("lang", "t_tok")), "lang")
          .crossJoin(broadcast(mDf))
          .withColumn("factor", expr("m_tok div t_tok")) // exact int64, not a
          // double division whose rounding could cross the floor boundary
          .withColumn("rem", col("m_tok") - col("factor") * col("t_tok"))
          .withColumn("extra",
            col("v").cast("decimal(38,0)") * col("t_tok") <
              col("rem").cast("decimal(38,0)") * lit(65536L))
        base.groupBy("lang")
          .agg(count(lit(1)).as("docs_total"),
            sum("ntok").as("tokens_total"),
            max("factor").as("factor_base"),
            sum(when(col("extra"), 1L).otherwise(0L)).as("docs_extra"),
            (sum(col("ntok") * col("factor")) +
              sum(when(col("extra"), col("ntok")).otherwise(0L)))
              .as("tokens_out"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH docs AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS ntok
          FROM documents),
        totals AS (
          SELECT lang, CAST(sum(ntok) AS BIGINT) AS t_tok FROM docs
          GROUP BY lang),
        m AS (SELECT max(t_tok) AS m_tok FROM totals),
        b AS (
          SELECT d.doc_id, d.lang, d.ntok,
                 ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
                   ::BIGINT AS v,
                 m_tok // t_tok AS factor,
                 m_tok - (m_tok // t_tok) * t_tok AS rem,
                 t_tok
          FROM docs d JOIN totals t ON d.lang = t.lang CROSS JOIN m)
        SELECT lang, count(*) AS docs_total,
               CAST(sum(ntok) AS BIGINT) AS tokens_total,
               CAST(max(factor) AS BIGINT) AS factor_base,
               CAST(count(*) FILTER (WHERE v * t_tok < rem * 65536)
                 AS BIGINT) AS docs_extra,
               CAST(sum(ntok * factor) +
                    coalesce(sum(ntok) FILTER (WHERE v * t_tok < rem * 65536),
                             0) AS BIGINT) AS tokens_out
        FROM b GROUP BY lang ORDER BY lang""")),

    // ---------------------------------------------------------------- p16
    // Document-length histogram on power-of-two bucket edges — what the
    // packing (p02/x05) and curriculum (p13) knobs are tuned against,
    // and the first thing to diff when a new crawl snapshot shifts the
    // corpus shape (p14's companion). Bucket edges are integer compares
    // (<16, <32, ... <256), so membership is exact on every engine and
    // rerun; one map-side projection, six counter rows out. At 100 TB
    // this composes with x08's shard manifest: per-shard histograms sum
    // to the corpus histogram because the buckets are fixed, not
    // quantile-derived.
    "p16_length_histogram" -> QueryDef(
      build = (s, d) => {
        // p13's lesson: materialize the counter BEFORE the when-chain, or
        // every branch re-runs the tokenize (probe-measured superlinear)
        t(s, d, "documents")
          .select(size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
          .select(
            when(col("ntok") < 16, 0L).when(col("ntok") < 32, 1L)
              .when(col("ntok") < 64, 2L).when(col("ntok") < 128, 3L)
              .when(col("ntok") < 256, 4L).otherwise(5L).as("bucket"),
            col("ntok"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
            min("ntok").as("min_tok"), max("ntok").as("max_tok"))
          .orderBy("bucket")
      },
      oracle = Some("""
        WITH t AS (
          SELECT CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS ntok
          FROM documents)
        SELECT CAST(CASE WHEN ntok < 16 THEN 0 WHEN ntok < 32 THEN 1
                         WHEN ntok < 64 THEN 2 WHEN ntok < 128 THEN 3
                         WHEN ntok < 256 THEN 4 ELSE 5 END AS BIGINT)
                 AS bucket,
               count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
               min(ntok) AS min_tok, max(ntok) AS max_tok
        FROM t GROUP BY 1 ORDER BY bucket""")),

    // ---------------------------------------------------------------- p17
    // Corpus datasheet: the one-page per-source report a dataset release
    // ships with — doc count, token mass, language spread, exact-dup
    // exposure (share of docs whose d01 content digest appears more than
    // once ANYWHERE in the corpus — cross-source dups count on both
    // sides) and mean length. One projected scan feeds a digest-keyed
    // count + a digest-keyed join back (p11's two-shuffle shape — never
    // doc-pairs), then a |sources|-row rollup with map-side partials.
    // Counts ride exact; avg/rate are single rounded IEEE divisions of
    // exactly-summed integers (n_chars sums stay < 2^53).
    "p17_datasheet" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("source"), col("lang"), col("n_chars"),
            size(TextFns.tokens(col("text"))).cast("long").as("ntok"),
            md5(col("text").cast("binary")).as("dg"))
        val cnt = docs.groupBy("dg").agg(count(lit(1)).as("cnt"))
        docs.join(cnt, "dg")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("ntok").as("n_tokens"),
            countDistinct(col("lang")).as("n_langs"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("dup_docs"),
            round(avg(col("n_chars").cast("double")), 2).as("avg_chars"))
          .withColumn("dup_rate",
            round(col("dup_docs").cast("double") / col("n_docs"), 4))
          .orderBy("source")
      },
      oracle = Some("""
        WITH d AS (
          SELECT source, lang, n_chars,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS ntok,
                 md5(text) AS dg
          FROM documents),
        c AS (SELECT dg, count(*) AS cnt FROM d GROUP BY dg)
        SELECT source, count(*) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS dup_docs,
               round(avg(CAST(n_chars AS DOUBLE)), 2) AS avg_chars,
               round(CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 4) AS dup_rate
        FROM d JOIN c USING (dg)
        GROUP BY source ORDER BY source""")),

    // ---------------------------------------------------------------- p18
    // Content-keyed k-fold assignment (ablation / cross-validation
    // splits): fold = md5 of the doc's CONTENT digest mod 5 — keying on
    // content, not doc_id, means exact duplicates land in the SAME fold
    // by construction (no join, no group machinery — the leakage-safety
    // p09 needs a cluster join for, free at the exact-dup tier), and the
    // assignment is stable across reruns, shards and corpus growth
    // (adding docs never moves an existing doc's fold). Pure map-side:
    // zero shuffle, the same draw arithmetic as x07's sharding.
    "p18_kfold_split" -> QueryDef(
      build = (s, d) => {
        val digest = md5(coalesce(col("text"), lit("")).cast("binary"))
        t(s, d, "documents")
          .select(col("doc_id"),
            pmod(conv(substring(md5(digest.cast("binary")), 1, 8), 16, 10)
              .cast("long"), lit(5L)).as("fold"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               ('0x' || substr(md5(md5(coalesce(text, ''))), 1, 8))::BIGINT
                 % 5 AS fold
        FROM documents ORDER BY doc_id""")),

    // ---------------------------------------------------------------- p19
    // Tokenizer-fertility audit: chars-per-token and bytes-per-token by
    // language — the health metric that catches a tokenizer exploding on
    // a script (fertility spikes → context windows silently shrink for
    // that language; the p02/p07 token budgets mis-price it). One
    // map-side projection, one |langs|-row aggregation with exact
    // integer masses; the ratios are single rounded IEEE divisions.
    "p19_tokenizer_fertility" -> QueryDef(
      build = (s, d) =>
        t(s, d, "documents")
          .select(col("lang"),
            size(TextFns.tokens(col("text"))).cast("long").as("ntok"),
            length(col("text")).cast("long").as("nchr"),
            octet_length(col("text").cast("binary")).cast("long").as("nbyt"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("ntok").as("n_tokens"), sum("nchr").as("n_chars"),
            sum("nbyt").as("n_bytes"))
          .withColumn("chars_per_tok",
            round(col("n_chars").cast("double") / col("n_tokens"), 4))
          .withColumn("bytes_per_tok",
            round(col("n_bytes").cast("double") / col("n_tokens"), 4))
          .orderBy("lang"),
      oracle = Some("""
        WITH d AS (
          SELECT lang,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS ntok,
                 CAST(length(text) AS BIGINT) AS nchr,
                 CAST(strlen(text) AS BIGINT) AS nbyt
          FROM documents)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS n_tokens,
               CAST(sum(nchr) AS BIGINT) AS n_chars,
               CAST(sum(nbyt) AS BIGINT) AS n_bytes,
               round(CAST(sum(nchr) AS DOUBLE) / sum(ntok), 4)
                 AS chars_per_tok,
               round(CAST(sum(nbyt) AS DOUBLE) / sum(ntok), 4)
                 AS bytes_per_tok
        FROM d GROUP BY lang ORDER BY lang""")),

    // ---------------------------------------------------------------- p20
    // FILTER ABLATION report: every quality gate (length / stopword /
    // repetition), every combination, doc + token mass — the table that
    // decides which filters to KEEP before a 100 TB run (a filter that
    // only kills what another filter already kills is a free removal;
    // one that kills 40% of tokens needs a second look). CUBE over the
    // three verdicts = marginals + pairwise + full cross in ONE Expand +
    // hash aggregate (q31's shape — constant 27-row output). Verdicts
    // are integer cross-multiplications (no float decides a gate); the
    // per-doc top-token count is one (doc, token)-keyed aggregation —
    // the only non-map-side input.
    "p20_filter_ablation" -> QueryDef(
      build = (s, d) => {
        // ALL THREE counters from ONE (doc, token) aggregation — no
        // base⋈topc rejoin: ntok = Σc, nstop = Σc over stopwords,
        // top-token concentration = max c. (tokens('') = [''], so every
        // doc has >= 1 token and maxc is never NULL.)
        val base = t(s, d, "documents")
          .select(col("doc_id"),
            explode(TextFns.tokens(coalesce(col("text"), lit(""))))
              .as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum("c").as("ntok"),
            sum(when(col("tok").isin(TextFns.stopwords: _*), col("c"))
              .otherwise(0L)).as("nstop"),
            max("c").as("maxc"))
        def verdict(pass: org.apache.spark.sql.Column) =
          when(pass, "pass").otherwise("fail")
        base
          .select(col("ntok"),
            verdict(col("ntok") >= 20).as("f_len"),
            verdict(col("nstop") * 8L >= col("ntok")).as("f_stop"),
            verdict(col("maxc") * 5L <= col("ntok")).as("f_rep"))
          .cube("f_len", "f_stop", "f_rep")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
            (grouping("f_len") * 4 + grouping("f_stop") * 2 +
              grouping("f_rep")).cast("long").as("gid"))
          .select(coalesce(col("f_len"), lit("ALL")).as("f_len"),
            coalesce(col("f_stop"), lit("ALL")).as("f_stop"),
            coalesce(col("f_rep"), lit("ALL")).as("f_rep"),
            col("gid"), col("n_docs"), col("n_tokens"))
          .orderBy("gid", "f_len", "f_stop", "f_rep")
      },
      oracle = Some("""
        WITH tk AS (
          SELECT doc_id,
                 string_split_regex(lower(trim(coalesce(text, ''))), '\s+')
                   AS toks
          FROM documents),
        g AS (
          SELECT doc_id, tok, count(*) AS c
          FROM (SELECT doc_id, unnest(toks) AS tok FROM tk) u
          GROUP BY 1, 2),
        base AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS ntok,
                 CAST(sum(CASE WHEN tok IN
                   ('the', 'a', 'of', 'and', 'to', 'in') THEN c ELSE 0 END)
                   AS BIGINT) AS nstop,
                 CAST(max(c) AS BIGINT) AS maxc
          FROM g GROUP BY 1),
        f AS (
          SELECT ntok,
                 CASE WHEN ntok >= 20 THEN 'pass' ELSE 'fail' END AS f_len,
                 CASE WHEN nstop * 8 >= ntok THEN 'pass' ELSE 'fail' END
                   AS f_stop,
                 CASE WHEN maxc * 5 <= ntok THEN 'pass' ELSE 'fail' END
                   AS f_rep
          FROM base)
        SELECT coalesce(f_len, 'ALL') AS f_len,
               coalesce(f_stop, 'ALL') AS f_stop,
               coalesce(f_rep, 'ALL') AS f_rep,
               CAST(GROUPING(f_len) * 4 + GROUPING(f_stop) * 2
                 + GROUPING(f_rep) AS BIGINT) AS gid,
               count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
        FROM f GROUP BY CUBE(f_len, f_stop, f_rep)
        ORDER BY gid, f_len, f_stop, f_rep""")),

    // ---------------------------------------------------------------- p21
    // TEMPERATURE (α) SAMPLING — the mBERT/XLM multilingual rebalance:
    // per-lang keep rate r_l = (T_min / T_l)^(1−α) with α = 0.3, so the
    // scarcest language keeps 100% and rich languages are damped
    // sub-linearly (softer than p12's hard water-fill). The only float
    // is ONE pow per LANGUAGE (not per row), 6-dp-rounded on both
    // engines before the integer 16-bit threshold — so the per-doc keep
    // decision is exact integer compare, rerun/shard-stable, and a
    // 1-ulp libm pow divergence sits 4 orders below the rounding grid.
    // Map-side draw vs a broadcast |langs|-row threshold table.
    "p21_alpha_sampling" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
        val totals = docs.groupBy("lang")
          .agg(sum("ntok").as("t_tok"), count(lit(1)).as("n_docs"))
        val tmin = totals.agg(min("t_tok").as("t_min"))
        val thr = totals.crossJoin(broadcast(tmin))
          .withColumn("r6", round(
            pow(col("t_min").cast("double") / col("t_tok"), 0.7), 6))
          .withColumn("keep_thr",
            floor(col("r6") * 65536.0 + 0.5).cast("long"))
        val draw = conv(substring(md5(col("doc_id").cast("string")
          .cast("binary")), 1, 4), 16, 10).cast("long")
        val kept = docs.withColumn("v", draw)
          .join(broadcast(thr.select("lang", "keep_thr")), "lang")
          .filter(col("v") < col("keep_thr"))
          .groupBy("lang")
          .agg(count(lit(1)).as("docs_kept"), sum("ntok").as("tokens_kept"))
        thr.join(kept, Seq("lang"), "left")
          .select(col("lang"), col("n_docs").as("docs_total"),
            col("t_tok").as("tokens_total"), col("keep_thr"),
            coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
            coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH docs AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS ntok
          FROM documents),
        totals AS (
          SELECT lang, CAST(sum(ntok) AS BIGINT) AS t_tok,
                 count(*) AS n_docs
          FROM docs GROUP BY lang),
        mn AS (SELECT min(t_tok) AS t_min FROM totals),
        thr AS (
          SELECT lang, t_tok, n_docs,
                 CAST(floor(round(pow(CAST(t_min AS DOUBLE) / t_tok, 0.7), 6)
                   * 65536.0 + 0.5) AS BIGINT) AS keep_thr
          FROM totals CROSS JOIN mn),
        kept AS (
          SELECT d.lang, count(*) AS docs_kept,
                 CAST(sum(d.ntok) AS BIGINT) AS tokens_kept
          FROM docs d JOIN thr t ON t.lang = d.lang
          WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
                  < t.keep_thr
          GROUP BY d.lang)
        SELECT t.lang, t.n_docs AS docs_total, t.t_tok AS tokens_total,
               t.keep_thr,
               CAST(coalesce(k.docs_kept, 0) AS BIGINT) AS docs_kept,
               CAST(coalesce(k.tokens_kept, 0) AS BIGINT) AS tokens_kept
        FROM thr t LEFT JOIN kept k ON k.lang = t.lang
        ORDER BY t.lang""")),

    // ---------------------------------------------------------------- p22
    // Epoch allocator under a repetition cap (the data-constrained-
    // scaling recipe: repeating a source beyond ~4 epochs stops helping):
    // each source is assigned epochs = clamp(1..4, target div T_s) where
    // target is an equal share of a 2×-corpus token budget — scarce
    // sources repeat up to the cap, rich sources run once, and the
    // report shows exactly where the budget goes unfilled. All integer
    // arithmetic (BIGINT division/clamp), so the plan is engine- and
    // partition-order-exact; one corpus tokenize pass → |sources|-row
    // aggregate → broadcast 1-row totals — map-side from there.
    "p22_epoch_plan" -> QueryDef(
      build = (s, d) => {
        // coalesce(text,'') keeps every doc's ntok >= 1 (whitespace split
        // of '' is ['']), so t_tokens is never NULL/0 and the integer
        // divisions below can't diverge on NULL semantics.
        val per = t(s, d, "documents")
          .select(col("source"),
            size(graft.functions.TextFns.tokens(coalesce(col("text"),
              lit("")))).cast("long").as("ntok"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("t_tokens"))
        val tot = per.agg(sum("t_tokens").as("tot"),
          count(lit(1)).as("n_src"))
        per.crossJoin(broadcast(tot))
          .selectExpr("source", "n_docs", "t_tokens",
            "(2 * tot) div n_src AS target_tokens")
          .selectExpr("source", "n_docs", "t_tokens", "target_tokens",
            "least(4L, greatest(1L, target_tokens div t_tokens)) AS epochs")
          .selectExpr("source", "n_docs", "t_tokens", "target_tokens",
            "epochs", "epochs * t_tokens AS planned_tokens",
            "epochs * t_tokens < target_tokens AS underfilled")
          .orderBy("source")
      },
      oracle = Some("""
        WITH per AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(len(string_split_regex(
                   lower(trim(coalesce(text, ''))), '\s+')))
                   AS BIGINT) AS t_tokens
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(sum(t_tokens) AS BIGINT) AS tot,
                       count(*) AS n_src FROM per),
        tgt AS (SELECT p.*, (2 * t.tot) // t.n_src AS target_tokens
                FROM per p CROSS JOIN tot t),
        ep AS (SELECT *, least(4, greatest(1, target_tokens // t_tokens))
                 AS epochs FROM tgt)
        SELECT source, n_docs, t_tokens, target_tokens, epochs,
               epochs * t_tokens AS planned_tokens,
               epochs * t_tokens < target_tokens AS underfilled
        FROM ep ORDER BY source""")),

    // ---------------------------------------------------------------- p23
    // BOILERPLATE-STRIP plan: d14 detects templated families (same
    // first-8-token prefix, ≥2 distinct bodies); this op carries the
    // finding through to the per-doc transform worklist — which docs
    // get their prefix stripped and the exact token accounting before/
    // after (the number a 100 TB pipeline budgets by). Same two-shuffle
    // digest shape as d14 + one join-back keyed on the prefix digest;
    // all counters exact integers; docs shorter than the prefix strip
    // to zero (greatest guard), never negative.
    "p23_boilerplate_strip" -> QueryDef(
      build = (s, d) => {
        val toks = graft.functions.TextFns.tokens(col("text"))
        val docs = t(s, d, "documents").select(col("doc_id"),
          md5(concat_ws(" ", slice(toks, 1, 8)).cast("binary")).as("ph"),
          md5(col("text").cast("binary")).as("fh"),
          size(toks).cast("long").as("ntok"))
        val fams = docs.groupBy("ph")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("fh")).as("n_bodies"))
          .filter(col("n_docs") >= 2 && col("n_bodies") >= 2)
          .select(col("ph"), lit(true).as("hit"))
        docs.join(fams, Seq("ph"), "left")
          .select(col("doc_id"),
            coalesce(col("hit"), lit(false)).as("stripped"),
            col("ntok").as("n_tok_before"),
            when(coalesce(col("hit"), lit(false)),
              greatest(col("ntok") - 8L, lit(0L)))
              .otherwise(col("ntok")).as("n_tok_after"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH dd AS (
          SELECT doc_id,
                 md5(array_to_string(
                   string_split_regex(lower(trim(text)), '\s+')[1:8], ' '))
                   AS ph,
                 md5(text) AS fh,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS ntok
          FROM documents),
        fams AS (
          SELECT ph FROM dd GROUP BY ph
          HAVING count(*) >= 2 AND count(DISTINCT fh) >= 2)
        SELECT d.doc_id, f.ph IS NOT NULL AS stripped,
               d.ntok AS n_tok_before,
               CASE WHEN f.ph IS NOT NULL THEN greatest(d.ntok - 8, 0)
                    ELSE d.ntok END AS n_tok_after
        FROM dd d LEFT JOIN fams f ON f.ph = d.ph
        ORDER BY d.doc_id""")),

    // ---------------------------------------------------------------- p24
    // PACK-EFFICIENCY audit of p02's sequence packing: per language, how
    // many documents the SEQ_LEN boundaries cut in two (attention-mask
    // fragmentation — the quality cost of dense packing) and how much
    // tail capacity the last partial bin wastes (the storage cost).
    // These two numbers decide SEQ_LEN and whether to pad-or-pack; a
    // 100 TB run budgets GPU-hours with exactly this report. Reuses the
    // two-pass prefix scheme (no single-task window); a doc is split iff
    // its [pfx, pfx+ntok) span crosses a bin edge — exact integer test.
    // Output |langs| rows; shares in basis points by integer division.
    "p24_pack_efficiency" -> QueryDef(
      build = (s, d) => {
        val base = t(s, d, "documents").select(
          col("doc_id"), col("lang"),
          size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
        TwoPassPrefix.withPrefix(base, "lang", "doc_id", col("ntok"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(expr(s"pfx div $SEQ_LEN") =!=
                expr(s"(pfx + ntok - 1) div $SEQ_LEN"), 1L)
              .otherwise(0L)).as("n_split_docs"),
            max("part_total").as("total_tokens"))
          .select(col("lang"), col("n_docs"), col("n_split_docs"),
            expr("n_split_docs * 10000 div n_docs").as("split_bp"),
            col("total_tokens"),
            expr(s"(total_tokens + ${SEQ_LEN - 1}) div $SEQ_LEN")
              .as("n_bins"),
            expr(s"(total_tokens + ${SEQ_LEN - 1}) div $SEQ_LEN * $SEQ_LEN"
              + " - total_tokens").as("tail_waste"))
          .orderBy("lang")
      },
      oracle = Some(s"""
        WITH z AS (
          SELECT lang, doc_id,
                 CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                   AS BIGINT) AS ntok
          FROM documents),
        w AS (
          SELECT lang, ntok,
            coalesce(sum(ntok) OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
            sum(ntok) OVER (PARTITION BY lang) AS total
          FROM z),
        g AS (
          SELECT lang, count(*) AS n_docs,
                 CAST(sum(CASE WHEN pfx // $SEQ_LEN
                     <> (pfx + ntok - 1) // $SEQ_LEN THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_split_docs,
                 CAST(max(total) AS BIGINT) AS total_tokens
          FROM w GROUP BY lang)
        SELECT lang, n_docs, n_split_docs,
               n_split_docs * 10000 // n_docs AS split_bp,
               total_tokens,
               (total_tokens + ${SEQ_LEN - 1}) // $SEQ_LEN AS n_bins,
               (total_tokens + ${SEQ_LEN - 1}) // $SEQ_LEN * $SEQ_LEN
                 - total_tokens AS tail_waste
        FROM g ORDER BY lang""")),

    // ---------------------------------------------------------------- p25
    // LM-perplexity quality gate (the CCNet/Gopher filter stage): score
    // every doc with t08's bigram surprisal and report, per source, how
    // much survives an average-NLL cut. The keep decision is EXACT — the
    // DECIMAL(30,6) surprisal sum is compared against threshold×count by
    // integer cross-multiplication, so no float ever decides a doc's
    // fate and the verdict is partition/engine-stable. Docs too short to
    // score (<2 tokens) are reported as unscored, not silently kept.
    // Scale shape is t08's: vocab²-bounded counts, bigram-keyed joins,
    // then a |sources|-row rollup — corpus-linear, never doc-pairs.
    "p25_perplexity_gate" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
        val inst = docs
          .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(col("doc_id"),
            explode(TextFns.shingles(col("tk"), 2)).as("bg"))
        val bgc = inst.groupBy("bg").agg(count(lit(1)).as("cb"))
        val pfx = bgc
          .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
          .agg(sum("cb").as("cp"))
        val ll = bgc
          .withColumn("w1", substring_index(col("bg"), " ", 1))
          .join(pfx, "w1")
          .select(col("bg"),
            log(col("cp").cast("double") / col("cb"))
              .cast("decimal(30,6)").as("l"))
        val scored = inst.join(ll, "bg")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("nb"), sum("l").as("sl"))
        docs.select(col("doc_id"), col("source"))
          .join(scored, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("nb").isNotNull, 1L).otherwise(0L))
              .as("n_scored"),
            sum(when(col("sl") * 100 <= col("nb") * NLL_THRESH_C, 1L)
              .otherwise(0L)).as("n_kept"))
          .select(col("source"), col("n_docs"), col("n_scored"),
            col("n_kept"),
            when(col("n_scored") === 0, 0L)
              .otherwise(expr("n_kept * 10000 div n_scored"))
              .as("kept_bp"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH tk AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents),
        inst AS (
          SELECT doc_id, array_to_string(t[i+1:i+2], ' ') AS bg
          FROM tk, unnest(range(len(t) - 1)) AS u(i)
          WHERE len(t) >= 2),
        bgc AS (SELECT bg, count(*) AS cb FROM inst GROUP BY bg),
        pfx AS (SELECT string_split(bg, ' ')[1] AS w1,
                       CAST(sum(cb) AS BIGINT) AS cp
                FROM bgc GROUP BY 1),
        ll AS (SELECT bg, CAST(round(ln(CAST(cp AS DOUBLE) / cb), 6)
                          AS DECIMAL(30,6)) AS l
               FROM bgc JOIN pfx ON string_split(bgc.bg, ' ')[1] = pfx.w1),
        scored AS (
          SELECT i.doc_id, count(*) AS nb, sum(l) AS sl
          FROM inst i JOIN ll USING (bg) GROUP BY i.doc_id),
        g AS (
          SELECT d.source,
                 count(*) AS n_docs,
                 CAST(sum(CASE WHEN s.nb IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_scored,
                 CAST(sum(CASE WHEN s.sl * 100 <= s.nb * $NLL_THRESH_C
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
          GROUP BY d.source)
        SELECT source, n_docs, n_scored, n_kept,
               CASE WHEN n_scored = 0 THEN 0
                    ELSE n_kept * 10000 // n_scored END AS kept_bp
        FROM g ORDER BY source""")),

    // ---------------------------------------------------------------- p26
    // Deterministic STRATIFIED sampling plan: exactly min(50, |stratum|)
    // docs per language by md5-draw rank — the eval-set / human-review
    // draw that must be reproducible across reruns, shards and engines
    // (no rand(), no sample(): the draw is a pure function of doc_id,
    // p18's convention). One lang-keyed window pass computes ranks AND
    // the per-stratum totals ride the same shuffle — no second corpus
    // scan; the report is |langs| rows with the kept token-mass share in
    // exact integer bp (the number that says whether a 50-doc sample is
    // mass-representative or got all shorts). Ties impossible: the
    // (draw, doc_id) order key is unique per row.
    "p26_stratified_sample" -> QueryDef(
      build = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            size(TextFns.tokens(col("text"))).cast("long").as("ntok"),
            md5(col("doc_id").cast("string").cast("binary")).as("draw"))
        val w = Window.partitionBy("lang").orderBy(col("draw"), col("doc_id"))
        docs.withColumn("rk", row_number().over(w))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rk") <= 50, 1L).otherwise(0L)).as("n_kept"),
            sum("ntok").as("tok_total"),
            sum(when(col("rk") <= 50, col("ntok")).otherwise(0L))
              .as("tok_kept"))
          .select(col("lang"), col("n_docs"), col("n_kept"),
            col("tok_total"), col("tok_kept"),
            expr("CASE WHEN coalesce(tok_total, 0) = 0 THEN 0 ELSE " +
              "tok_kept * 10000 div tok_total END").as("mass_bp"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS ntok,
                 md5(CAST(doc_id AS VARCHAR)) AS draw
          FROM documents),
        r AS (SELECT *, row_number() OVER (PARTITION BY lang
                ORDER BY draw, doc_id) AS rk FROM d)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN rk <= 50 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               CAST(sum(ntok) AS BIGINT) AS tok_total,
               CAST(sum(CASE WHEN rk <= 50 THEN ntok ELSE 0 END) AS BIGINT)
                 AS tok_kept,
               CAST(CASE WHEN coalesce(sum(ntok), 0) = 0 THEN 0
                    ELSE sum(CASE WHEN rk <= 50 THEN ntok ELSE 0 END)
                      * 10000 // sum(ntok) END AS BIGINT) AS mass_bp
        FROM r GROUP BY lang ORDER BY lang""")),

    // ---------------------------------------------------------------- p27
    // DEDUP-AWARE mix plan: p12's waterfill rebalance computed on the
    // exact-deduped corpus (d22's keep-first keeper set) — the order a
    // real pipeline runs these in (CCNet/RefinedWeb: dedup FIRST, then
    // mix), because duplicated mass inflates a language's apparent
    // budget and the waterline with it; a lang that is 2× duplicated
    // would otherwise crowd out genuinely scarce ones. Same physical
    // shapes as its parents: one digest-keyed min agg + join-back
    // (corpus-linear) feeding one |langs|-row totals aggregate, the
    // keep predicate in DECIMAL(38,0) cross-multiplication, md5 draw
    // map-side. Reports both raw and unique mass per lang so the
    // inflation correction is visible in the plan itself.
    "p27_dedup_mix" -> QueryDef(
      build = (s, d) => {
        val raw = t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            size(graft.functions.TextFns.tokens(col("text")))
              .cast("long").as("ntok"),
            md5(col("text").cast("binary")).as("dg"))
        val keep = raw.groupBy("dg").agg(min("doc_id").as("keep_id"))
        val rawTotals = raw.groupBy("lang").agg(sum("ntok").as("raw_tok"))
        val docs = raw.join(keep, "dg")
          .filter(col("doc_id") === col("keep_id"))
          .select("doc_id", "lang", "ntok")
        val totals = docs.groupBy("lang")
          .agg(sum("ntok").as("t_tok"), count(lit(1)).as("n_docs"))
        val kDf = totals.agg(min("t_tok").as("k_tok"))
        val draw = conv(substring(md5(col("doc_id").cast("string")
          .cast("binary")), 1, 4), 16, 10).cast("long")
        val keptAgg = docs.withColumn("v", draw)
          .join(broadcast(totals.select("lang", "t_tok")), "lang")
          .crossJoin(broadcast(kDf))
          .filter(col("v").cast("decimal(38,0)") * col("t_tok") <
            col("k_tok").cast("decimal(38,0)") * lit(65536L))
          .groupBy("lang")
          .agg(count(lit(1)).as("docs_kept"), sum("ntok").as("tokens_kept"))
        totals.join(broadcast(rawTotals), "lang")
          .crossJoin(broadcast(kDf))
          .join(keptAgg, Seq("lang"), "left")
          .select(col("lang"), col("raw_tok").as("tokens_raw"),
            col("n_docs").as("docs_unique"),
            col("t_tok").as("tokens_unique"),
            col("k_tok").as("tokens_target"),
            coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
            coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH raw AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS ntok,
                 md5(text) AS dg
          FROM documents),
        keep AS (SELECT dg, min(doc_id) AS keep_id FROM raw GROUP BY dg),
        rawt AS (
          SELECT lang, CAST(sum(ntok) AS BIGINT) AS raw_tok
          FROM raw GROUP BY lang),
        docs AS (
          SELECT raw.doc_id, raw.lang, raw.ntok
          FROM raw JOIN keep ON raw.dg = keep.dg
          WHERE raw.doc_id = keep.keep_id),
        totals AS (
          SELECT lang, CAST(sum(ntok) AS BIGINT) AS t_tok,
                 count(*) AS n_docs
          FROM docs GROUP BY lang),
        k AS (SELECT min(t_tok) AS k_tok FROM totals),
        kept AS (
          SELECT d.lang, count(*) AS docs_kept,
                 CAST(sum(d.ntok) AS BIGINT) AS tokens_kept
          FROM docs d JOIN totals t ON d.lang = t.lang CROSS JOIN k
          WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
                  ::BIGINT AS HUGEINT) * t.t_tok
                < CAST(k.k_tok AS HUGEINT) * 65536
          GROUP BY d.lang)
        SELECT t.lang, r.raw_tok AS tokens_raw, t.n_docs AS docs_unique,
               t.t_tok AS tokens_unique, k.k_tok AS tokens_target,
               CAST(coalesce(kp.docs_kept, 0) AS BIGINT) AS docs_kept,
               CAST(coalesce(kp.tokens_kept, 0) AS BIGINT) AS tokens_kept
        FROM totals t
        JOIN rawt r ON r.lang = t.lang
        CROSS JOIN k
        LEFT JOIN kept kp ON kp.lang = t.lang
        ORDER BY t.lang""")),

    // ---------------------------------------------------------------- p28
    // IPF / RAKING reweight: one iterative-proportional-fitting step
    // that pulls the (source × lang) token-mass grid toward TWO marginal
    // targets at once — equal share per source AND equal share per lang
    // (p03/p12/p21 each balance ONE margin; a multilingual multi-crawl
    // mix needs both). Row step: r_s = (T/|S|)/T_s; column step on the
    // row-scaled grid: c_l = (T/|L|)/Σ_s T_sl·r_s; cell weight
    // w_sl = r_s·c_l. Physically ONE fact pass builds the cached grid
    // (≤|S|·|L| rows); every later table is dim-bounded and rides
    // broadcast joins. Determinism: the multipliers are rounded to 6 dp
    // decimals, so the column denominators are EXACT decimal sums of
    // (int × decimal) products — partition-order-free — and the final
    // w is a single rounded IEEE product of two identical doubles on
    // both engines. Zero-mass sources/langs have no defined multiplier
    // and are excluded on both engines (same clause family as e32).
    "p28_ipf_reweight" -> QueryDef(
      build = (s, d) => {
        val cell = ipfCache.register(t(s, d, "documents")
          .select(coalesce(col("source"), lit("")).as("source"),
            coalesce(col("lang"), lit("")).as("lang"),
            // greatest(…, 0): size(split(NULL)) is -1 in non-ANSI Spark,
            // which would DEFLATE the summed token mass; clamping to 0
            // gives a NULL-text doc zero mass — exactly what DuckDB's
            // NULL-skipping sum computes, and what the zero-mass source
            // exclusion in the spec relies on ('' still counts 1 token
            // on both engines; only NULL is massless)
            greatest(size(split(trim(col("text")), "\\s+")), lit(0))
              .cast("long").as("ntok"))
          .groupBy("source", "lang")
          .agg(coalesce(sum("ntok"), lit(0L)).as("tc")))
        // eager: gt/r/c reach the grid through CONCURRENT broadcast
        // jobs that would race to compute the uncached tokenize subtree
        // (the e33 rule: narrow table + racing consumers); measured
        // run_ms 13.5 s at 3.3 s cpu before the fill
        cell.count()
        val gt = cell.agg(sum("tc").as("tt"),
          countDistinct("source").as("ns"),
          countDistinct("lang").as("nl"))
        val r = cell.groupBy("source").agg(sum("tc").as("ts"))
          .filter(col("ts") > 0)
          .crossJoin(broadcast(gt))
          .withColumn("r6",
            (col("tt").cast("double") / col("ns").cast("double")
              / col("ts").cast("double")).cast("decimal(30,6)"))
          .select("source", "r6")
        val c = cell.join(broadcast(r), "source")
          .groupBy("lang").agg(sum(col("tc") * col("r6")).as("den"))
          .filter(col("den") > 0)
          .crossJoin(broadcast(gt))
          .withColumn("c6",
            (col("tt").cast("double") / col("nl").cast("double")
              / col("den").cast("double")).cast("decimal(30,6)"))
          .select("lang", "c6")
        cell.join(broadcast(r), "source").join(broadcast(c), "lang")
          .select(col("source"), col("lang"), col("tc").as("tokens"),
            round(col("r6").cast("double") * col("c6").cast("double"), 6)
              .as("w"))
          .orderBy("source", "lang")
      },
      oracle = Some("""
        WITH cell AS (
          SELECT coalesce(source, '') AS source,
                 coalesce(lang, '') AS lang,
                 CAST(coalesce(sum(len(string_split_regex(trim(text),
                   '\s+'))), 0) AS BIGINT) AS tc
          FROM documents GROUP BY 1, 2),
        g AS (SELECT CAST(sum(tc) AS BIGINT) AS tt,
                     CAST(count(DISTINCT source) AS BIGINT) AS ns,
                     CAST(count(DISTINCT lang) AS BIGINT) AS nl
              FROM cell),
        r AS (
          SELECT source,
                 CAST(round(CAST(tt AS DOUBLE) / CAST(ns AS DOUBLE)
                   / CAST(ts AS DOUBLE), 6) AS DECIMAL(30,6)) AS r6
          FROM (SELECT source, CAST(sum(tc) AS BIGINT) AS ts
                FROM cell GROUP BY 1) s
          CROSS JOIN g WHERE ts > 0),
        den AS (
          SELECT lang, sum(tc * r6) AS den
          FROM cell JOIN r USING (source) GROUP BY 1),
        c AS (
          SELECT lang,
                 CAST(round(CAST(tt AS DOUBLE) / CAST(nl AS DOUBLE)
                   / CAST(den AS DOUBLE), 6) AS DECIMAL(30,6)) AS c6
          FROM den CROSS JOIN g WHERE den > 0)
        SELECT source, lang, tc AS tokens,
               round(CAST(r6 AS DOUBLE) * CAST(c6 AS DOUBLE), 6) AS w
        FROM cell JOIN r USING (source) JOIN c USING (lang)
        ORDER BY source, lang"""))
  )
}

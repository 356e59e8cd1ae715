package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{AggFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.E — similarity search over the `embeddings` table (64-dim float).
  *
  * a01 is the correctness baseline: broadcast the (small) query set and
  * scan candidates once — O(n·q) map-side, no shuffle until top-k. a02/a03
  * are the scale path: LSH / IVF bucketing prunes the candidate set so the
  * per-query work is a bucket, not the corpus.
  */
object Similarity {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  private val QUERY_IDS_BELOW = 5L
  private val TOPK = 10

  private def queriesDf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < QUERY_IDS_BELOW)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))

  /** a01's exact top-k: broadcast queries × corpus scan, per-query
    * window. Shared by a01 and a07 (the recall evaluation).
    */
  private def bruteTopK(e: DataFrame): DataFrame = {
    val q = queriesDf(e)
    val c = e.filter(col("vec_id") >= QUERY_IDS_BELOW)
    val w = Window.partitionBy("q_id").orderBy(desc("raw_score"), asc("vec_id"))
    c.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        VectorFns.cosine(col("qv"), col("embedding")).as("raw_score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TOPK)
  }

  /** a02's bucketed top-k: 8 seeded hyperplane sign bits → bucket,
    * queries probe their own bucket. Shared by a02 and a07.
    */
  private def lshTopK(e0: DataFrame): DataFrame = {
    val planes = VectorFns.hyperplanes(8, 64)
    def bucketOf(emb: org.apache.spark.sql.Column) =
      planes.zipWithIndex.map { case (p, i) =>
        val dotP = VectorFns.dot(emb, typedLit(p.toSeq))
        when(dotP >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    val e = e0.withColumn("bucket", bucketOf(col("embedding")))
    val q = e.filter(col("vec_id") < QUERY_IDS_BELOW)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("bucket").as("q_bucket"))
    val c = e.filter(col("vec_id") >= QUERY_IDS_BELOW)
    val w = Window.partitionBy("q_id").orderBy(desc("raw_score"), asc("vec_id"))
    c.join(broadcast(q), col("bucket") === col("q_bucket"))
      .select(col("q_id"), col("vec_id"),
        VectorFns.cosine(col("qv"), col("embedding")).as("raw_score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TOPK)
  }

  /** Portable half-away-from-zero nearest int (see a05's scaladoc for
    * why round() is off-limits here).
    */
  private def halfAway(v: org.apache.spark.sql.Column) =
    when(v >= 0, floor(v + 0.5)).otherwise(-floor(-v + 0.5))

  /** Symmetric int8 max-abs codes per vector (a05's quantizer, shared
    * with a06's quantized search): (vec_id, qv: array<long> in
    * [-127, 127]). All-zero vectors quantize to explicit 0 codes.
    */
  private def quantizedCodes(e: DataFrame): DataFrame = {
    val xd = transform(col("embedding"), _.cast("double"))
    val scale = array_max(transform(xd, abs(_))) / 127.0
    e.select(col("vec_id"), xd.as("e"), scale.as("scale"))
      .select(col("vec_id"), col("e"), col("scale"),
        transform(col("e"), v =>
          when(col("scale") === 0, lit(0L))
            .otherwise(halfAway(v / col("scale")).cast("long"))).as("qv"))
  }

  /** Oracle-side twin of [[ivfTrainedAssigned]]: seeds → first
    * assignment → 6-dp-quantized Lloyd means → re-assignment (asg2).
    * Shared CTE prefix of the a03/a03b/a09 oracles and d12's.
    */
  private[operators] val IVF_ORACLE_CTES: String = """
        WITH seeds AS (
          SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id < 8),
        a1 AS (
          SELECT e.vec_id, e.embedding, s.cent_id,
                 list_cosine_similarity(e.embedding::DOUBLE[], s.cv)
                   AS cscore
          FROM embeddings e CROSS JOIN seeds s),
        asg1 AS (
          SELECT vec_id, embedding, cent_id AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY cscore DESC, cent_id) AS ark FROM a1) z
          WHERE ark = 1),
        ex AS (
          SELECT cell, unnest(embedding::DOUBLE[]) AS v,
                 unnest(range(64)) AS pos
          FROM asg1),
        cents AS (
          SELECT cell AS cent_id, list(mv ORDER BY pos) AS cv FROM (
            SELECT cell, pos, round(avg(v), 6) AS mv
            FROM ex GROUP BY cell, pos) m
          GROUP BY cell),
        a2 AS (
          SELECT e.vec_id, e.embedding, c.cent_id,
                 list_cosine_similarity(e.embedding::DOUBLE[], c.cv)
                   AS cscore
          FROM embeddings e CROSS JOIN cents c),
        asg2 AS (
          SELECT vec_id, embedding, cent_id AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY cscore DESC, cent_id) AS ark FROM a2) z
          WHERE ark = 1)"""

  /** IVF coarse quantizer shared by a03/a03b: vec_id 0..7 seed the
    * cells, one distributed Lloyd iteration refines them (per-cell
    * per-dimension mean, 6-dp-quantized so the downstream argmax is
    * engine- and partition-stable), then every vector is re-assigned.
    * Returns (trained centroids (cent_id, cv), assignment
    * (vec_id, embedding, cell)).
    *
    * The FIRST assignment ranks raw (unquantized) seed cosines, where
    * VectorFns.cosine (dot/(‖a‖·‖b‖)) and DuckDB's
    * list_cosine_similarity could disagree in the last ulp (~1e-15).
    * That cannot flip the argmax on shipped data: the measured minimum
    * top-2 seed-cosine margin per vector is 1.2e-4 / 4.1e-4 / 4.7e-5
    * at sf0.001 / sf0.01 / sf0.1 — ten orders of magnitude above
    * cross-engine noise. (Quantizing asg1 too would trade this for
    * rounding-boundary risk at the 1e-6 grid, which is strictly worse.)
    */
  private[operators] def ivfTrainedAssigned(
      e: DataFrame): (DataFrame, DataFrame) = {
    // Nearest-centroid argmax as min(struct(−cscore, cent_id, embedding)):
    // double negation is exact, so struct-asc order IS the old window's
    // (cscore desc, cent_id asc) — and a hash aggregate gets map-side
    // partial min where the row_number window full-shuffled all n×8
    // candidate rows. NULL cosines (zero vectors) coalesce to +∞ so they
    // still lose to every real score, matching desc NULLS LAST; an
    // all-zero vector ties every centroid at +∞ and the cent_id
    // tie-break lands it in the lowest cell, exactly as before.
    def assign(cents: DataFrame): DataFrame =
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"), struct(
          coalesce(-VectorFns.cosine(col("embedding"), col("cv")),
            lit(Double.PositiveInfinity)).as("nscore"),
          col("cent_id").as("cent_id"),
          col("embedding").as("embedding")).as("cand"))
        .groupBy("vec_id")
        .agg(min(col("cand")).as("b"))
        .select(col("vec_id"), col("b.embedding").as("embedding"),
          col("b.cent_id").as("cell"))
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    // one Lloyd iteration: per-cell per-dimension mean
    val trained = assign(seeds)
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(round(avg("v"), 6).as("mv"))
      .groupBy("cell")
      .agg(map_from_arrays(collect_list("pos"), collect_list("mv")).as("m"))
      .select(col("cell").as("cent_id"),
        expr("transform(sequence(0, 63), i -> m[cast(i AS int)])").as("cv"))
    (trained, assign(trained))
  }

  /** (vec_id, keep..., m, sv): the m-th 8-dim subvector (doubles) of
    * every vector — the PQ decomposition shared by a08 and a09. `keep`
    * carries extra per-vector columns (a09 threads the coarse cell
    * through so codes land in inverted-list layout with no extra join).
    */
  private def subvectors(df: DataFrame, keep: Seq[String] = Nil): DataFrame =
    df.select(col("vec_id") +: keep.map(col) :+ explode(expr(
        "transform(sequence(0, 7), m -> named_struct(" +
          "'m', m, 'sv', transform(slice(embedding, m*8+1, 8), " +
          "x -> cast(x AS double))))")).as("x"): _*)
      .select(col("vec_id") +: keep.map(col) ++:
        Seq(col("x.m").as("m"), col("x.sv").as("sv")): _*)

  /** Σ(a−b)² over two same-length double arrays (pure, no division). */
  private def sqd2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Nearest-PQ-centroid per (m, vec_id) as min(struct(cd2, cent_id,
    * sv, keep...)): the struct's lexicographic order IS the (cd2 asc,
    * cent_id asc) ranking (cent_id is unique per m, so the tail is
    * never compared), and a hash aggregate gets map-side partial min
    * where a row_number window would full-shuffle all n×8×16 candidate
    * rows — the difference between a sort and a streaming fold at a
    * billion vectors. Returns (m, vec_id, cent_id, sv, keep...).
    */
  private def pqNearest(subv: DataFrame, cents: DataFrame,
      keep: Seq[String] = Nil): DataFrame =
    subv.join(broadcast(cents), "m")
      .select(col("m"), col("vec_id"),
        struct(sqd2(col("sv"), col("cv")).as("cd2") +:
          col("cent_id").as("cent_id") +: col("sv").as("sv") +:
          keep.map(k => col(k).as(k)): _*).as("cand"))
      .groupBy("m", "vec_id")
      .agg(min(col("cand")).as("b"))
      .select(Seq(col("m"), col("vec_id"), col("b.cent_id").as("cent_id"),
        col("b.sv").as("sv")) ++ keep.map(k => col(s"b.$k").as(k)): _*)

  /** Trained PQ codebook (m, cent_id, cv): per subspace, 16 centroids
    * seeded from vec_id 0..15's subvectors + one Lloyd iteration with
    * 6-dp-quantized means (a03's trained-quantizer scheme per
    * subspace). Shared by a08 and a09 — training always runs on the
    * FULL corpus subvectors so both operators score against the same
    * codebook construction.
    */
  private def pqCodebook(subv: DataFrame): DataFrame = {
    val seeds = subv.filter(col("vec_id") < 16)
      .select(col("m"), col("vec_id").as("cent_id"), col("sv").as("cv"))
    pqNearest(subv, seeds)
      .select(col("m"), col("cent_id").as("cell"),
        posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("m", "cell", "pos")
      .agg(round(avg("v"), 6).as("mv"))
      .groupBy("m", "cell")
      .agg(map_from_arrays(collect_list("pos"), collect_list("mv"))
        .as("mm"))
      .select(col("m"), col("cell").as("cent_id"),
        expr("transform(sequence(0, 7), i -> mm[cast(i AS int)])")
          .as("cv"))
  }

  /** Oracle-side twin of the PQ training + corpus encode (p-prefixed
    * CTE names so it composes with [[IVF_ORACLE_CTES]] in a09's
    * oracle): psubv = subvector decomposition, pcents = trained
    * codebook, pa2 = re-assignment distances. Consumers derive `codes`
    * and the per-query `tab` from these.
    */
  private val PQ_ORACLE_CTES: String = s"""
        pms AS (SELECT unnest(range(8)) AS m),
        psubv AS (
          SELECT e.vec_id, pms.m,
                 (e.embedding::DOUBLE[])[pms.m*8+1 : pms.m*8+8] AS sv
          FROM embeddings e CROSS JOIN pms),
        pseeds AS (
          SELECT m, vec_id AS cent_id, sv AS cv
          FROM psubv WHERE vec_id < 16),
        pa1 AS (
          SELECT v.m, v.vec_id, v.sv, s.cent_id,
                 list_sum(list_transform(range(8),
                   i -> (v.sv[i+1]-s.cv[i+1])*(v.sv[i+1]-s.cv[i+1])))
                   AS cd2
          FROM psubv v JOIN pseeds s ON v.m = s.m),
        pasg1 AS (
          SELECT m, vec_id, sv, cent_id AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY m, vec_id
                ORDER BY cd2 ASC, cent_id) AS ark FROM pa1) z
          WHERE ark = 1),
        pex AS (SELECT m, cell, unnest(sv) AS v, unnest(range(8)) AS pos
                FROM pasg1),
        pcents AS (
          SELECT m, cell AS cent_id, list(mv ORDER BY pos) AS cv FROM (
            SELECT m, cell, pos, round(avg(v), 6) AS mv
            FROM pex GROUP BY m, cell, pos) mm
          GROUP BY m, cell),
        pa2 AS (
          SELECT v.m, v.vec_id, c.cent_id,
                 list_sum(list_transform(range(8),
                   i -> (v.sv[i+1]-c.cv[i+1])*(v.sv[i+1]-c.cv[i+1])))
                   AS cd2
          FROM psubv v JOIN pcents c ON v.m = c.m)"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---------------------------------------------------------------- a01
    // Brute-force cosine top-k per query: broadcast queries × scan corpus.
    "a01_ann_bruteforce" -> QueryDef(
      build = (s, d) =>
        bruteTopK(t(s, d, "embeddings"))
          .select(col("q_id"), col("vec_id"),
            round(col("raw_score"), 4).as("score"), col("rk"))
          .orderBy("q_id", "rk"),
      oracle = Some(s"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qv
                   FROM embeddings WHERE vec_id < $QUERY_IDS_BELOW),
             c AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id >= $QUERY_IDS_BELOW),
             sc AS (SELECT q_id, vec_id,
                      list_cosine_similarity(qv::DOUBLE[],
                                             embedding::DOUBLE[]) AS raw_score
                    FROM q CROSS JOIN c)
        SELECT q_id, vec_id, round(raw_score, 4) AS score,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY raw_score DESC, vec_id) AS BIGINT) AS rk
        FROM sc
        QUALIFY rk <= $TOPK
        ORDER BY q_id, rk""")),

    // ---------------------------------------------------------------- a02
    // Random-hyperplane LSH: 8 sign bits → bucket id; queries probe their
    // bucket only. The seeded LCG planes are engine-independent, so the
    // SAME plane constants are inlined into the DuckDB oracle and the
    // bucketed result is fully hash-verified (sign decisions are robust:
    // a flip would need |dot| below float-accumulation noise).
    "a02_ann_lsh" -> QueryDef(
      build = (s, d) =>
        lshTopK(t(s, d, "embeddings"))
          .select(col("q_id"), col("vec_id"),
            round(col("raw_score"), 4).as("score"), col("rk"))
          .orderBy("q_id", "rk"),
      oracle = Some {
        val planes = VectorFns.hyperplanes(8, 64)
        val bucketSql = planes.zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN list_dot_product(embedding::DOUBLE[], " +
            p.mkString("[", ", ", "]") +
            s"::DOUBLE[]) >= 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        s"""
        WITH e AS (
          SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
        q AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS q_bucket
              FROM e WHERE vec_id < $QUERY_IDS_BELOW),
        c AS (SELECT vec_id, embedding, bucket FROM e
              WHERE vec_id >= $QUERY_IDS_BELOW),
        sc AS (SELECT q_id, vec_id,
                 list_cosine_similarity(qv::DOUBLE[],
                                        embedding::DOUBLE[]) AS raw_score
               FROM q JOIN c ON c.bucket = q.q_bucket)
        SELECT q_id, vec_id, round(raw_score, 4) AS score,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY raw_score DESC, vec_id) AS BIGINT) AS rk
        FROM sc
        QUALIFY rk <= $TOPK
        ORDER BY q_id, rk"""
      }),

    // ---------------------------------------------------------------- a03
    // IVF with a TRAINED coarse quantizer: vec_id 0..7 seed the cells,
    // then one distributed Lloyd (k-means) iteration refines them —
    // assign all vectors to their nearest seed, average per cell
    // (posexplode → per-dimension avg → rebuild the vector via an
    // int→mean map; no collect_list ordering dependence, no driver
    // collect), re-assign to the trained centroids, and queries search
    // only their own cell. Every stage is one shuffle or a broadcast of
    // the 8-row centroid table.
    //
    // Fully DuckDB-oracled: the trained means are quantized to 6 dp on
    // BOTH sides, which absorbs double-summation-order noise (partition
    // count, engine) before it can flip an argmax assignment — every
    // downstream cosine then runs on bit-identical centroid vectors.
    // SimilaritySpec additionally asserts recall@10 against exact a01.
    "a03_ivf_centroids" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val (_, assigned) = ivfTrainedAssigned(e)
        val q = assigned.filter(col("vec_id") < QUERY_IDS_BELOW)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
            col("cell").as("q_cell"))
        val c = assigned.filter(col("vec_id") >= QUERY_IDS_BELOW)
        val w = Window.partitionBy("q_id").orderBy(desc("raw_score"), asc("vec_id"))
        c.join(broadcast(q), col("cell") === col("q_cell"))
          .select(col("q_id"), col("vec_id"),
            VectorFns.cosine(col("qv"), col("embedding")).as("raw_score"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= TOPK)
          .select(col("q_id"), col("vec_id"),
            round(col("raw_score"), 4).as("score"), col("rk"))
          .orderBy("q_id", "rk")
      },
      oracle = Some(s"""$IVF_ORACLE_CTES,
        q AS (SELECT vec_id AS q_id, embedding AS qv, cell AS q_cell
              FROM asg2 WHERE vec_id < $QUERY_IDS_BELOW),
        c AS (SELECT vec_id, embedding, cell FROM asg2
              WHERE vec_id >= $QUERY_IDS_BELOW),
        sc AS (SELECT q_id, c.vec_id,
                 list_cosine_similarity(qv::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS raw_score
               FROM q JOIN c ON c.cell = q.q_cell)
        SELECT q_id, vec_id, round(raw_score, 4) AS score,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY raw_score DESC, vec_id) AS BIGINT) AS rk
        FROM sc
        QUALIFY rk <= $TOPK
        ORDER BY q_id, rk""")),

    // --------------------------------------------------------------- a03b
    // IVF with nprobe=2 — the standard recall knob: each query searches
    // its TWO nearest cells instead of one, trading 2× candidate work
    // for the recall lost when a true neighbor sits just across a cell
    // boundary. Probe ranking runs against the same trained (6-dp-
    // quantized) centroids, so the full output stays hash-oracled.
    "a03b_ivf_nprobe2" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val (trained, assigned) = ivfTrainedAssigned(e)
        val wProbe = Window.partitionBy("q_id")
          .orderBy(desc("pscore"), asc("cent_id"))
        val qp = queriesDf(e)
          .crossJoin(broadcast(trained))
          .select(col("q_id"), col("qv"), col("cent_id"),
            VectorFns.cosine(col("qv"), col("cv")).as("pscore"))
          .withColumn("prk", row_number().over(wProbe))
          .filter(col("prk") <= 2)
          .select(col("q_id"), col("qv"), col("cent_id").as("q_cell"))
        val c = assigned.filter(col("vec_id") >= QUERY_IDS_BELOW)
        val w = Window.partitionBy("q_id").orderBy(desc("raw_score"), asc("vec_id"))
        c.join(broadcast(qp), col("cell") === col("q_cell"))
          .select(col("q_id"), col("vec_id"),
            VectorFns.cosine(col("qv"), col("embedding")).as("raw_score"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= TOPK)
          .select(col("q_id"), col("vec_id"),
            round(col("raw_score"), 4).as("score"), col("rk"))
          .orderBy("q_id", "rk")
      },
      oracle = Some(s"""$IVF_ORACLE_CTES,
        qp AS (
          SELECT q_id, qv, cent_id AS q_cell FROM (
            SELECT q.vec_id AS q_id, q.embedding AS qv, c.cent_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     list_cosine_similarity(q.embedding::DOUBLE[], c.cv)
                       DESC, c.cent_id) AS prk
            FROM (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < $QUERY_IDS_BELOW) q
            CROSS JOIN cents c) z
          WHERE prk <= 2),
        c AS (SELECT vec_id, embedding, cell FROM asg2
              WHERE vec_id >= $QUERY_IDS_BELOW),
        sc AS (SELECT q_id, c.vec_id,
                 list_cosine_similarity(qv::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS raw_score
               FROM qp JOIN c ON c.cell = qp.q_cell)
        SELECT q_id, vec_id, round(raw_score, 4) AS score,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY raw_score DESC, vec_id) AS BIGINT) AS rk
        FROM sc
        QUALIFY rk <= $TOPK
        ORDER BY q_id, rk""")),

    // ---------------------------------------------------------------- a05
    // Embedding QUANTIZATION audit: symmetric int8 (max-abs) quantization
    // — the storage format a 100 TB embedding store actually ships
    // (4 bytes → 1 byte per dim). Pure map-side: per vector, scale =
    // max|x|/127, codes = round(x/scale) ∈ [-127, 127], and the emitted
    // row carries the scale, integer code checksums (qsum/qabs pin the
    // exact code vector content order-independently) and the max
    // reconstruction error — which the spec bounds by scale/2 (the
    // round-off guarantee). Scalar outputs keep the full row
    // hash-oracled; both engines run the identical IEEE double ops.
    // NOTE the nearest-int step is floor(|x|/scale + 0.5) with explicit
    // sign, NOT round(): Spark's round() on doubles goes through
    // BigDecimal.valueOf (shortest DECIMAL string), so a double whose
    // shortest repr reads "k.5" but whose binary value sits below the
    // midpoint (the classic 2.675 case) rounds UP on Spark and DOWN in
    // DuckDB's binary round. x/scale values here live densely near
    // integer midpoints by construction, so this op avoids round()
    // outright; floor(+0.5) is a plain exactly-rounded IEEE op on both
    // engines. (SURVEY §6 documents the general hazard.)
    "a05_embedding_quantize" -> QueryDef(
      build = (s, d) => {
        quantizedCodes(t(s, d, "embeddings"))
          // raw error BEFORE the output select: aliasing the rounded
          // scale as "scale" in the same select would otherwise capture
          // the zip_with's col("scale") via Spark 4's lateral column
          // alias resolution — err would silently use the 6-dp scale
          .withColumn("raw_err", array_max(zip_with(col("qv"), col("e"),
            (qv, xv) => abs(qv * col("scale") - xv))))
          // 6-dp display rounding via floor(v*1e6 + 0.5)/1e6, NOT
          // round(): scale/raw_err are non-negative, and half-away
          // floor-rounding is a plain exactly-rounded IEEE sequence both
          // engines compute bit-identically — Spark's round() routes
          // through decimal shortest-repr strings and can flip the hash
          // at a k.5-reading midpoint (same hazard this op's quantize
          // step already avoids; SURVEY §6).
          .select(col("vec_id"),
            (floor(col("scale") * 1e6 + 0.5) / 1e6).as("scale"),
            aggregate(col("qv"), lit(0L), _ + _).as("qsum"),
            aggregate(col("qv"), lit(0L), (acc, v) => acc + abs(v)).as("qabs"),
            (floor(col("raw_err") * 1e6 + 0.5) / 1e6).as("max_err"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH x AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        s AS (
          SELECT vec_id, e,
                 list_max(list_transform(e, v -> abs(v))) / 127.0 AS scale
          FROM x),
        q AS (
          SELECT vec_id, e, scale,
                 list_transform(e, v -> CAST(
                   CASE WHEN scale = 0 THEN 0
                        WHEN v >= 0 THEN floor(v / scale + 0.5)
                        ELSE -floor(-v / scale + 0.5) END AS BIGINT)) AS qs
          FROM s),
        er AS (
          SELECT vec_id, scale, qs,
                 list_max(list_transform(range(len(e)),
                   i -> abs(qs[i+1] * scale - e[i+1]))) AS raw_err
          FROM q)
        SELECT vec_id, floor(scale * 1e6 + 0.5) / 1e6 AS scale,
               CAST(coalesce(list_sum(qs), 0) AS BIGINT) AS qsum,
               CAST(coalesce(list_sum(list_transform(qs, v -> abs(v))), 0)
                 AS BIGINT) AS qabs,
               floor(raw_err * 1e6 + 0.5) / 1e6 AS max_err
        FROM er ORDER BY vec_id""")),

    // ---------------------------------------------------------------- a06
    // QUANTIZED brute-force ANN: a01's broadcast-query scan over a05's
    // int8 codes — the memory-bandwidth-bound production variant (1 byte
    // per dim moving through the scan instead of 4). Scores are PURE
    // int64 dot products of codes: no float appears anywhere in scoring
    // or ranking, so the full top-k output is exactly reproducible on
    // any engine/partitioning by construction (ties break on vec_id).
    // SimilaritySpec measures recall@10 against exact float a01.
    "a06_ann_quantized" -> QueryDef(
      build = (s, d) => {
        val codes = quantizedCodes(t(s, d, "embeddings"))
          .select(col("vec_id"), col("qv"))
        val q = codes.filter(col("vec_id") < QUERY_IDS_BELOW)
          .select(col("vec_id").as("q_id"), col("qv").as("qa"))
        val c = codes.filter(col("vec_id") >= QUERY_IDS_BELOW)
        val w = Window.partitionBy("q_id").orderBy(desc("iscore"), asc("vec_id"))
        c.crossJoin(broadcast(q))
          .select(col("q_id"), col("vec_id"),
            aggregate(zip_with(col("qa"), col("qv"), _ * _), lit(0L), _ + _)
              .as("iscore"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= TOPK)
          .select(col("q_id"), col("vec_id"), col("iscore"), col("rk"))
          .orderBy("q_id", "rk")
      },
      oracle = Some(s"""
        WITH x AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        s AS (
          SELECT vec_id, e,
                 list_max(list_transform(e, v -> abs(v))) / 127.0 AS scale
          FROM x),
        q AS (
          SELECT vec_id, list_transform(e, v -> CAST(
                   CASE WHEN scale = 0 THEN 0
                        WHEN v >= 0 THEN floor(v / scale + 0.5)
                        ELSE -floor(-v / scale + 0.5) END AS BIGINT)) AS qv
          FROM s),
        qs AS (SELECT vec_id AS q_id, qv AS qa FROM q
               WHERE vec_id < $QUERY_IDS_BELOW),
        cs AS (SELECT vec_id, qv FROM q WHERE vec_id >= $QUERY_IDS_BELOW),
        sc AS (
          SELECT q_id, vec_id,
                 CAST(coalesce(list_sum(list_transform(range(len(qa)),
                   i -> qa[i+1] * qv[i+1])), 0) AS BIGINT) AS iscore
          FROM qs CROSS JOIN cs)
        SELECT q_id, vec_id, iscore,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY iscore DESC, vec_id) AS BIGINT) AS rk
        FROM sc
        QUALIFY rk <= $TOPK
        ORDER BY q_id, rk""")),

    // ---------------------------------------------------------------- a04
    // Per-cluster vector stats (norm distribution) — aggregation over
    // vectors, SQL-oracled.
    "a04_pairwise_label" -> QueryDef(
      build = (s, d) =>
        t(s, d, "embeddings")
          .select(col("label"), VectorFns.norm(col("embedding")).as("nrm"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            round(avg("nrm"), 4).as("avg_norm"),
            round(min("nrm"), 4).as("min_norm"),
            round(max("nrm"), 4).as("max_norm"))
          .orderBy("label"),
      oracle = Some("""
        SELECT label, count(*) AS n,
               round(avg(nrm), 4) AS avg_norm,
               round(min(nrm), 4) AS min_norm,
               round(max(nrm), 4) AS max_norm
        FROM (SELECT label,
                sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))
                  AS nrm
              FROM embeddings) z
        GROUP BY label ORDER BY label""")),

    // ---------------------------------------------------------------- a07
    // ANN RECALL EVALUATION: recall@k of the bucketed LSH path (a02)
    // against the exact brute-force baseline (a01), per query — the
    // measurement an ANN deployment runs before trusting the
    // approximate path at scale, expressed as the same declarative
    // join both pipelines already use. Queries whose bucket holds no
    // true top-k neighbor still appear (left join from the query set,
    // recall 0). The hit count is an integer and the denominator a
    // constant, so recall is a single exact IEEE division on both
    // engines — no rounding hazard.
    "a07_ann_recall" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val exact = bruteTopK(e).select(col("q_id"), col("vec_id"))
        val approx = lshTopK(e)
          .select(col("q_id").as("aq"), col("vec_id").as("av"))
        val hits = exact.join(approx,
            col("q_id") === col("aq") && col("vec_id") === col("av"))
          .groupBy("q_id").agg(count(lit(1)).as("h"))
        queriesDf(e).select(col("q_id"))
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("h"), lit(0L)).as("n_hits"),
            (coalesce(col("h"), lit(0L)).cast("double") / TOPK)
              .as("recall_at_k"))
          .orderBy("q_id")
      },
      oracle = Some {
        val planes = VectorFns.hyperplanes(8, 64)
        val bucketSql = planes.zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN list_dot_product(embedding::DOUBLE[], " +
            p.mkString("[", ", ", "]") +
            s"::DOUBLE[]) >= 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        s"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qv
                   FROM embeddings WHERE vec_id < $QUERY_IDS_BELOW),
        c AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= $QUERY_IDS_BELOW),
        exact AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY list_cosine_similarity(qv::DOUBLE[],
                                embedding::DOUBLE[]) DESC, vec_id) AS rk
            FROM q CROSS JOIN c) z
          WHERE rk <= $TOPK),
        eb AS (SELECT vec_id, embedding, $bucketSql AS bucket
               FROM embeddings),
        qb AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS q_bucket
               FROM eb WHERE vec_id < $QUERY_IDS_BELOW),
        cb AS (SELECT vec_id, embedding, bucket FROM eb
               WHERE vec_id >= $QUERY_IDS_BELOW),
        approx AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY list_cosine_similarity(qv::DOUBLE[],
                                embedding::DOUBLE[]) DESC, vec_id) AS rk
            FROM qb JOIN cb ON cb.bucket = qb.q_bucket) z
          WHERE rk <= $TOPK),
        hits AS (
          SELECT e.q_id, count(*) AS h
          FROM exact e JOIN approx a
            ON a.q_id = e.q_id AND a.vec_id = e.vec_id
          GROUP BY e.q_id)
        SELECT q.q_id,
               CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
               CAST(coalesce(h.h, 0) AS DOUBLE) / $TOPK AS recall_at_k
        FROM (SELECT vec_id AS q_id FROM embeddings
              WHERE vec_id < $QUERY_IDS_BELOW) q
        LEFT JOIN hits h ON h.q_id = q.q_id
        ORDER BY q.q_id"""
      }),

    // ---------------------------------------------------------------- a08
    // Product quantization (PQ/ADC): the 64-dim vector splits into M=8
    // subspaces of 8 dims; each subspace trains K=16 centroids (seeded
    // from vec_id 0..15's subvectors + one Lloyd iteration, 6-dp-
    // quantized means — a03's trained-quantizer scheme per subspace) and
    // every corpus vector encodes to 8 nibble codes, 4 B/vector vs
    // 256 B raw — the 64× compression that makes billion-vector search
    // RAM-resident. Search is asymmetric distance computation: each
    // query builds an 8×16 L2² lookup table against the trained
    // centroids (broadcast — 128 rows/query), and a candidate's
    // approximate distance is the sum of its 8 code-indexed entries.
    // That sum is the cross-engine hazard: 8-term float addition is
    // order-dependent, so each term is 6-dp-rounded and summed exactly
    // in DECIMAL(30,6) (the AggFns.dsum scheme) — ranking ties broken
    // by vec_id, so the full top-k is hash-oracled like a03/a06.
    // Distances are pure Σ(a−b)² — no division, no zero-vector hazard.
    "a08_ann_pq" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val subv = subvectors(e)
        val cents = pqCodebook(subv)
        val codes = pqNearest(subv, cents)
          .filter(col("vec_id") >= QUERY_IDS_BELOW)
          .select(col("m"), col("vec_id"), col("cent_id").as("code"))
        val tab = subv.filter(col("vec_id") < QUERY_IDS_BELOW)
          .join(broadcast(cents), "m")
          .select(col("vec_id").as("q_id"), col("m").as("qm"),
            col("cent_id").as("qcent"), sqd2(col("sv"), col("cv")).as("qd2"))
        val w = Window.partitionBy("q_id")
          .orderBy(asc("adc_exact"), asc("vec_id"))
        codes.join(broadcast(tab),
            col("m") === col("qm") && col("code") === col("qcent"))
          .groupBy("q_id", "vec_id")
          .agg(graft.functions.AggFns.dsumRaw(col("qd2")).as("adc_exact"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= TOPK)
          .select(col("q_id"), col("vec_id"),
            col("adc_exact").cast("double").as("adc"), col("rk"))
          .orderBy("q_id", "rk")
      },
      oracle = Some(s"""
        WITH $PQ_ORACLE_CTES,
        codes AS (
          SELECT m, vec_id, cent_id AS code FROM (
            SELECT *, row_number() OVER (PARTITION BY m, vec_id
                ORDER BY cd2 ASC, cent_id) AS ark FROM pa2) z
          WHERE ark = 1 AND vec_id >= $QUERY_IDS_BELOW),
        tab AS (
          SELECT v.vec_id AS q_id, v.m, c.cent_id,
                 list_sum(list_transform(range(8),
                   i -> (v.sv[i+1]-c.cv[i+1])*(v.sv[i+1]-c.cv[i+1])))
                   AS qd2
          FROM psubv v JOIN pcents c ON v.m = c.m
          WHERE v.vec_id < $QUERY_IDS_BELOW),
        sc AS (
          SELECT t.q_id, x.vec_id,
                 ${graft.functions.AggFns.sqlDsumRaw("t.qd2")} AS adc_exact
          FROM codes x JOIN tab t ON t.m = x.m AND t.cent_id = x.code
          GROUP BY 1, 2)
        SELECT q_id, vec_id, CAST(adc_exact AS DOUBLE) AS adc,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY adc_exact ASC, vec_id) AS BIGINT) AS rk
        FROM sc
        QUALIFY rk <= $TOPK
        ORDER BY q_id, rk""")),

    // ---------------------------------------------------------------- a09
    // IVF + PQ (IVFADC, Jégou et al. 2011 "Product Quantization for
    // Nearest Neighbor Search"): the billion-vector serving layout.
    // a03's trained coarse quantizer prunes the candidate set to the
    // query's cell; a08's PQ codes + broadcast ADC tables score the
    // survivors without touching raw vectors. The corpus encode is ONE
    // fused pass — subvectors are derived from the coarse assignment
    // with the cell carried through the min-struct hash aggregate, so
    // codes emerge already in inverted-list layout (cell, 8 nibbles):
    // at scale that's a codes table partitioned by cell, 4 B/vector,
    // probed per query without a join against a separate assignment.
    // (Production IVFADC encodes residuals vector − coarse_centroid;
    // here the codebook is shared verbatim with a08 so both score
    // against the same trained quantizer — the pruning, not the
    // residual, is what this operator adds.)
    // ADC sums run exactly in DECIMAL(30,6) (AggFns.dsum scheme) with
    // vec_id tie-breaks, so the full per-cell top-k is hash-oracled.
    "a09_ann_ivfpq" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val (_, assigned) = ivfTrainedAssigned(e)
        val subvAll = subvectors(e)
        val cents = pqCodebook(subvAll)
        val codes = pqNearest(
            subvectors(assigned.filter(col("vec_id") >= QUERY_IDS_BELOW),
              keep = Seq("cell")), cents, keep = Seq("cell"))
          .select(col("m"), col("vec_id"), col("cell"),
            col("cent_id").as("code"))
        val qcell = assigned.filter(col("vec_id") < QUERY_IDS_BELOW)
          .select(col("vec_id").as("q_id"), col("cell").as("q_cell"))
        val tab = subvAll.filter(col("vec_id") < QUERY_IDS_BELOW)
          .join(broadcast(cents), "m")
          .select(col("vec_id").as("q_id"), col("m").as("qm"),
            col("cent_id").as("qcent"), sqd2(col("sv"), col("cv")).as("qd2"))
          .join(broadcast(qcell), "q_id")
        val w = Window.partitionBy("q_id")
          .orderBy(asc("adc_exact"), asc("vec_id"))
        codes.join(broadcast(tab),
            col("m") === col("qm") && col("code") === col("qcent") &&
              col("cell") === col("q_cell"))
          .groupBy("q_id", "vec_id")
          .agg(graft.functions.AggFns.dsumRaw(col("qd2")).as("adc_exact"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= TOPK)
          .select(col("q_id"), col("vec_id"),
            col("adc_exact").cast("double").as("adc"), col("rk"))
          .orderBy("q_id", "rk")
      },
      oracle = Some(s"""$IVF_ORACLE_CTES,
        $PQ_ORACLE_CTES,
        pcodes AS (
          SELECT z.m, z.vec_id, z.cent_id AS code, g.cell FROM (
            SELECT *, row_number() OVER (PARTITION BY m, vec_id
                ORDER BY cd2 ASC, cent_id) AS ark FROM pa2) z
          JOIN asg2 g ON g.vec_id = z.vec_id
          WHERE z.ark = 1 AND z.vec_id >= $QUERY_IDS_BELOW),
        qcell AS (SELECT vec_id AS q_id, cell AS q_cell FROM asg2
                  WHERE vec_id < $QUERY_IDS_BELOW),
        tab AS (
          SELECT v.vec_id AS q_id, v.m, c.cent_id,
                 list_sum(list_transform(range(8),
                   i -> (v.sv[i+1]-c.cv[i+1])*(v.sv[i+1]-c.cv[i+1])))
                   AS qd2
          FROM psubv v JOIN pcents c ON v.m = c.m
          WHERE v.vec_id < $QUERY_IDS_BELOW),
        sc AS (
          SELECT t.q_id, x.vec_id,
                 ${graft.functions.AggFns.sqlDsumRaw("t.qd2")} AS adc_exact
          FROM pcodes x
          JOIN qcell qc ON qc.q_cell = x.cell
          JOIN tab t ON t.q_id = qc.q_id AND t.m = x.m
                    AND t.cent_id = x.code
          GROUP BY 1, 2)
        SELECT q_id, vec_id, CAST(adc_exact AS DOUBLE) AS adc,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY adc_exact ASC, vec_id) AS BIGINT) AS rk
        FROM sc
        QUALIFY rk <= $TOPK
        ORDER BY q_id, rk""")),

    // ---------------------------------------------------------------- a10
    // RANGE search (radius query): everything within cos >= 0.75 of each
    // query, reported as (count, best match) — the "find all near
    // neighbors" primitive behind dedup candidate generation and
    // retrieval-filtering, where top-k's fixed k is the wrong contract.
    // Exact baseline shape: broadcast query set × one corpus scan
    // (O(n·q) map-side, like a01); the per-query best is the min-struct
    // argmax (map-side partial agg — no window shuffle), and queries
    // with an empty ball survive via the left join with n_in_range = 0.
    // The scale path for huge q is a02/a03's bucketing — compose the
    // same predicate after an LSH/IVF block instead of the crossJoin.
    "a10_range_search" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val q = queriesDf(e)
        val c = e.filter(col("vec_id") >= QUERY_IDS_BELOW)
        val agg = c.crossJoin(broadcast(q))
          .select(col("q_id"), col("vec_id"),
            VectorFns.cosine(col("qv"), col("embedding")).as("sc"))
          .filter(col("sc") >= 0.75)
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_in_range"),
            min(struct((-col("sc")).as("ns"), col("vec_id").as("vec_id")))
              .as("b"))
        q.select("q_id").join(agg, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("n_in_range"), lit(0L)).as("n_in_range"),
            col("b.vec_id").as("best_vec"),
            round(-col("b.ns"), 4).as("best_score"))
          .orderBy("q_id")
      },
      oracle = Some(s"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qv
                   FROM embeddings WHERE vec_id < $QUERY_IDS_BELOW),
        c AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= $QUERY_IDS_BELOW),
        inr AS (
          SELECT * FROM (
            SELECT q_id, c.vec_id,
                   list_cosine_similarity(qv::DOUBLE[],
                     c.embedding::DOUBLE[]) AS sc
            FROM q CROSS JOIN c) z
          WHERE sc >= 0.75),
        agg AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n FROM inr
                GROUP BY q_id),
        best AS (
          SELECT q_id, vec_id, sc FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY sc DESC, vec_id) AS rk FROM inr) z
          WHERE rk = 1)
        SELECT q.q_id, coalesce(a.n, 0) AS n_in_range,
               b.vec_id AS best_vec, round(b.sc, 4) AS best_score
        FROM q LEFT JOIN agg a USING (q_id) LEFT JOIN best b USING (q_id)
        ORDER BY q.q_id""")),

    // ---------------------------------------------------------------- a11
    // Nearest-neighbor JOIN between two vector sets (odd vec_ids ⋈ even
    // vec_ids): for every left vector, its highest-cosine right vector
    // within its nprobe=2 nearest trained IVF cells — the linking/
    // clustering primitive (dedup across snapshots, label transfer)
    // where BOTH sides are corpus-sized, so a query-set broadcast
    // (a01/a10) is the wrong shape. Blocking by a03's shared coarse
    // quantizer bounds per-pair work by cell population: each side
    // shuffles ONCE on the cell id and the argmax is the min-struct
    // hash aggregate (map-side partial, no window) — never |L|×|R|.
    // The left's top-2 cells come from a bounded collect_list aggregate
    // (k structs per group, k = cell count = the scale knob, ≈ √n) —
    // NOT a per-left row_number window, which would full-shuffle the
    // n×k candidate rows (a03b's window is fine only because its query
    // set is tiny). Lefts whose probed cells hold no right rows survive
    // via the left join with NULL nn.
    "a11_nn_join" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val (trained, asg) = ivfTrainedAssigned(e)
        val left0 = e.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("l_id"), col("embedding").as("lv"))
        val left = left0.crossJoin(broadcast(trained))
          .select(col("l_id"), struct(
            coalesce(-VectorFns.cosine(col("lv"), col("cv")),
              lit(Double.PositiveInfinity)).as("ns"),
            col("cent_id").as("cell"), col("lv").as("lv")).as("cand"))
          .groupBy("l_id")
          .agg(slice(sort_array(collect_list(col("cand"))), 1, 2).as("t2"))
          .select(col("l_id"), col("t2").getItem(0).getField("lv").as("lv"),
            explode(expr("transform(t2, x -> x.cell)")).as("cell"))
        val right = asg.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("r_id"), col("embedding").as("rv"),
            col("cell"))
        val best = left.join(right, "cell")
          .select(col("l_id"), struct(
            coalesce(-VectorFns.cosine(col("lv"), col("rv")),
              lit(Double.PositiveInfinity)).as("ns"),
            col("r_id").as("r_id")).as("cand"))
          .groupBy("l_id")
          .agg(min(col("cand")).as("b"))
          .select(col("l_id"), col("b.r_id").as("nn_id"),
            round(-col("b.ns"), 4).as("cos"))
        left0.select("l_id").join(best, Seq("l_id"), "left")
          .orderBy("l_id")
      },
      oracle = Some(s"""$IVF_ORACLE_CTES,
        l0 AS (SELECT vec_id AS l_id, embedding AS lv
               FROM embeddings WHERE vec_id % 2 = 1),
        lp AS (SELECT l_id, cell FROM (
            SELECT l0.l_id, c.cent_id AS cell,
                   row_number() OVER (PARTITION BY l0.l_id
                     ORDER BY list_cosine_similarity(l0.lv::DOUBLE[], c.cv)
                       DESC, c.cent_id) AS prk
            FROM l0 CROSS JOIN cents c) z
          WHERE prk <= 2),
        r AS (SELECT vec_id AS r_id, embedding AS rv, cell
              FROM asg2 WHERE vec_id % 2 = 0),
        nsc AS (SELECT l0.l_id, r.r_id,
                  list_cosine_similarity(l0.lv::DOUBLE[], r.rv::DOUBLE[])
                    AS c
                FROM l0 JOIN lp USING (l_id) JOIN r ON lp.cell = r.cell),
        nbest AS (SELECT l_id, r_id, c FROM (
            SELECT *, row_number() OVER (PARTITION BY l_id
                ORDER BY c DESC, r_id) AS rk FROM nsc) z
          WHERE rk = 1)
        SELECT l0.l_id, b.r_id AS nn_id, round(b.c, 4) AS cos
        FROM l0 LEFT JOIN nbest b USING (l_id)
        ORDER BY l0.l_id""")),

    // ---------------------------------------------------------------- a12
    // kNN label classification: predict each query vector's label by
    // majority vote of its 5 exact nearest corpus neighbors (cosine),
    // ties to the smallest label — the standard embedding-space
    // label-propagation / weak-annotation primitive. Queries are a 1-in-20
    // id slice, corpus the even ids, so query and corpus never overlap
    // and the broadcast side stays ~5% of the table. The vote argmax is
    // a min-struct hash aggregate over the ≤|labels| per-query vote rows
    // (a03's idiom), never a second corpus-sized shuffle; the top-5
    // window partitions per query with candidate fan-in bounded by the
    // corpus slice. The scale path swaps the crossJoin for a11's
    // IVF-cell blocking — the vote logic is unchanged.
    "a12_knn_classify" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val q = e.filter(col("vec_id") % 20 === 1)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
            col("label").as("true_label"))
        val c = e.filter(col("vec_id") % 2 === 0)
        val w = Window.partitionBy("q_id").orderBy(desc("sc"), asc("vec_id"))
        val knn = c.crossJoin(broadcast(q))
          .select(col("q_id"), col("true_label"), col("vec_id"),
            col("label"), VectorFns.cosine(col("qv"), col("embedding"))
              .as("sc"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
        knn.groupBy("q_id", "true_label", "label")
          .agg(count(lit(1)).as("nv"))
          .groupBy("q_id", "true_label")
          .agg(min(struct((-col("nv")).as("nnv"), col("label").as("label")))
            .as("b"))
          .select(col("q_id"), col("b.label").as("pred_label"),
            (-col("b.nnv")).as("n_votes"), col("true_label"),
            (col("b.label") === col("true_label")).as("correct"))
          .orderBy("q_id")
      },
      oracle = Some("""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qv,
                          label AS true_label
                   FROM embeddings WHERE vec_id % 20 = 1),
        c AS (SELECT vec_id, embedding, label FROM embeddings
              WHERE vec_id % 2 = 0),
        sc AS (SELECT q_id, true_label, c.vec_id, c.label,
                 list_cosine_similarity(qv::DOUBLE[],
                   c.embedding::DOUBLE[]) AS sc
               FROM q CROSS JOIN c),
        knn AS (SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY sc DESC, vec_id) AS rk FROM sc) z
          WHERE rk <= 5),
        votes AS (SELECT q_id, true_label, label, count(*) AS nv
                  FROM knn GROUP BY 1, 2, 3),
        best AS (SELECT *, row_number() OVER (PARTITION BY q_id
                   ORDER BY nv DESC, label) AS r FROM votes)
        SELECT q_id, label AS pred_label, CAST(nv AS BIGINT) AS n_votes,
               true_label, label = true_label AS correct
        FROM best WHERE r = 1 ORDER BY q_id""")),

    // ---------------------------------------------------------------- a13
    // IVF cell-quality audit: per trained a03 cell, the population, the
    // mean member→centroid cosine (cohesion) and the worst member
    // (min cosine) — the measurement run before trusting the coarse
    // quantizer that a03b/a09/a11/d12 all block on, exactly as a07 is
    // the measurement run for the LSH path. Mean cohesion sums per-vector
    // cosines in DECIMAL(30,6) (the cast rounds at 6 dp), so the audit
    // is partition-order-free; min is order-free by nature. One
    // cell-keyed aggregation over the assignment; the 8-row centroid
    // table is broadcast.
    "a13_cell_quality" -> QueryDef(
      build = (s, d) => {
        val (trained, assigned) = ivfTrainedAssigned(t(s, d, "embeddings"))
        assigned
          .join(broadcast(trained.select(col("cent_id").as("cell"),
            col("cv"))), "cell")
          .select(col("cell"),
            VectorFns.cosine(col("embedding"), col("cv")).as("cos"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n_vecs"),
            round(AggFns.dsumRaw(col("cos")).cast("double") /
              count(lit(1)), 4).as("avg_cos"),
            round(min("cos"), 4).as("min_cos"))
          .orderBy("cell")
      },
      oracle = Some(s"""$IVF_ORACLE_CTES,
        q AS (SELECT a.cell,
                     list_cosine_similarity(a.embedding::DOUBLE[], c.cv)
                       AS cos
              FROM asg2 a JOIN cents c ON a.cell = c.cent_id)
        SELECT cell, count(*) AS n_vecs,
               round(CAST(sum(CAST(round(cos, 6) AS DECIMAL(30,6)))
                 AS DOUBLE) / count(*), 4) AS avg_cos,
               round(min(cos), 4) AS min_cos
        FROM q GROUP BY cell ORDER BY cell""")),

    // ---------------------------------------------------------------- a14
    // Maximum-inner-product search (MIPS): top-k by RAW dot product, not
    // cosine — the retrieval semantics of recommendation / two-tower
    // models, where a vector's norm carries signal (popularity, recency)
    // and must NOT be normalized away. Same physical shape as a01:
    // broadcast query set, one candidate scan, the codegen'd
    // DotProductExpr scoring inside WholeStageCodegen, per-query
    // WindowGroupLimit top-k (map-side truncation to k before the
    // q_id shuffle). The scale path composes exactly like cosine's:
    // MIPS reduces to cosine over norm-augmented vectors
    // ([x, sqrt(M²−‖x‖²)] with unit queries), after which a02/a03's
    // LSH/IVF blocks and a08's PQ apply unchanged — the brute pass here
    // is the recall baseline that reduction is measured against (a07's
    // role). Scores rank on the raw double (sequential accumulation on
    // both engines); display rounds at 4 dp.
    "a14_mips" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val q = queriesDf(e)
        val c = e.filter(col("vec_id") >= QUERY_IDS_BELOW)
        val w = Window.partitionBy("q_id")
          .orderBy(desc("raw_score"), asc("vec_id"))
        c.crossJoin(broadcast(q))
          .select(col("q_id"), col("vec_id"),
            VectorFns.dot(col("qv"), col("embedding")).as("raw_score"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= TOPK)
          .select(col("q_id"), col("vec_id"),
            round(col("raw_score"), 4).as("score"), col("rk"))
          .orderBy("q_id", "rk")
      },
      oracle = Some(s"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qv
                   FROM embeddings WHERE vec_id < $QUERY_IDS_BELOW),
             c AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id >= $QUERY_IDS_BELOW),
             sc AS (SELECT q_id, vec_id,
                      list_dot_product(qv::DOUBLE[],
                                       embedding::DOUBLE[]) AS raw_score
                    FROM q CROSS JOIN c)
        SELECT q_id, vec_id, round(raw_score, 4) AS score,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY raw_score DESC, vec_id) AS BIGINT) AS rk
        FROM sc
        QUALIFY rk <= $TOPK
        ORDER BY q_id, rk""")),

    // ---------------------------------------------------------------- a15
    // Recall CURVE: a07's single recall@10 unrolled over k = 1..10 —
    // the plot an ANN rollout decision actually reads (is the LSH path
    // good enough at the k the product serves, or only at k=10?). A
    // (q, vec) pair found by both paths contributes a hit to every
    // k ≥ max(exact_rk, approx_rk), so the whole curve falls out of ONE
    // exact⋈approx join (both sides the already-pinned a01/a02 shapes)
    // + a sequence-explode of at most 10 rows per matched pair + one
    // 10-group aggregation. Hit counts are exact integers; recall is a
    // single rounded IEEE division per k. The k-grid left join keeps
    // zero-hit ks visible instead of silently absent.
    "a15_recall_curve" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val exact = bruteTopK(e)
          .select(col("q_id"), col("vec_id"), col("rk").as("erk"))
        val approx = lshTopK(e)
          .select(col("q_id").as("aq"), col("vec_id").as("av"),
            col("rk").as("ark"))
        val hits = exact.join(approx,
            col("q_id") === col("aq") && col("vec_id") === col("av"))
          .select(explode(sequence(greatest(col("erk"), col("ark")),
            lit(TOPK.toLong))).as("k"))
          .groupBy("k").agg(count(lit(1)).as("n_hits"))
        val nq = queriesDf(e).agg(count(lit(1)).as("nq"))
        s.range(1, TOPK + 1).select(col("id").as("k"))
          .join(hits, Seq("k"), "left")
          .crossJoin(broadcast(nq))
          .select(col("k"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            // nullif: an empty query set (nq = 0) yields NULL recall
            // instead of an ANSI DIVIDE_BY_ZERO task kill (EmptyInputSpec)
            round(coalesce(col("n_hits"), lit(0L)).cast("double") /
              nullif(col("nq") * col("k"), lit(0L)), 4).as("recall"))
          .orderBy("k")
      },
      oracle = Some {
        val planes = VectorFns.hyperplanes(8, 64)
        val bucketSql = planes.zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN list_dot_product(embedding::DOUBLE[], " +
            p.mkString("[", ", ", "]") +
            s"::DOUBLE[]) >= 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        s"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qv
                   FROM embeddings WHERE vec_id < $QUERY_IDS_BELOW),
        c AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= $QUERY_IDS_BELOW),
        exact AS (
          SELECT q_id, vec_id, rk FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY list_cosine_similarity(qv::DOUBLE[],
                                embedding::DOUBLE[]) DESC, vec_id) AS rk
            FROM q CROSS JOIN c) z
          WHERE rk <= $TOPK),
        eb AS (SELECT vec_id, embedding, $bucketSql AS bucket
               FROM embeddings),
        qb AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS q_bucket
               FROM eb WHERE vec_id < $QUERY_IDS_BELOW),
        cb AS (SELECT vec_id, embedding, bucket FROM eb
               WHERE vec_id >= $QUERY_IDS_BELOW),
        approx AS (
          SELECT q_id, vec_id, rk FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY list_cosine_similarity(qv::DOUBLE[],
                                embedding::DOUBLE[]) DESC, vec_id) AS rk
            FROM qb JOIN cb ON qb.q_bucket = cb.bucket) z
          WHERE rk <= $TOPK),
        pr AS (
          SELECT greatest(e.rk, a.rk) AS mrk
          FROM exact e JOIN approx a
            ON e.q_id = a.q_id AND e.vec_id = a.vec_id),
        nq AS (SELECT count(*) AS n FROM q),
        ks AS (SELECT unnest(generate_series(1, $TOPK)) AS k),
        h AS (SELECT k, count(mrk) AS n_hits
              FROM ks LEFT JOIN pr ON mrk <= k GROUP BY k)
        SELECT CAST(k AS BIGINT) AS k,
               CAST(n_hits AS BIGINT) AS n_hits,
               round(CAST(n_hits AS DOUBLE) / (n * k), 4) AS recall
        FROM h CROSS JOIN nq ORDER BY k"""
      }),

    // ---------------------------------------------------------------- a16
    // HYBRID SEARCH with reciprocal-rank fusion (the modern RAG/retrieval
    // shape): a lexical candidate list (query-term frequency over the
    // document text) and a vector candidate list (cosine vs the doc-0
    // embedding, doc_id ≡ vec_id) each ranked to depth 50, fused by
    // RRF(60): score = Σ 1/(60+rank), missing list contributes 0 (full
    // outer join). The fused score is arithmetic on small integers —
    // one IEEE division + addition per side, bit-identical on any
    // engine, no rounding needed. Scale: each list is its own pruned
    // retrieval (term match / ANN bucket), the fusion joins two
    // depth-bounded lists — constant work after retrieval.
    "a16_hybrid_search" -> QueryDef(
      build = (s, d) => {
        val qterms = Seq("join", "filter", "scan")
        val lexW = Window.orderBy(desc("tf"), asc("doc_id"))
        val lex = t(s, d, "documents")
          .select(col("doc_id"),
            size(filter(graft.functions.TextFns.tokens(col("text")),
              x => x.isin(qterms: _*))).cast("long").as("tf"))
          .filter(col("tf") > 0)
          .withColumn("lex_rank", row_number().over(lexW).cast("long"))
          .filter(col("lex_rank") <= 50)
          .select("doc_id", "lex_rank")
        val qv = t(s, d, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
        val vecW = Window.orderBy(desc("cs"), asc("doc_id"))
        val vec = t(s, d, "embeddings")
          .crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            VectorFns.cosine(col("embedding"), col("qv")).as("cs"))
          .withColumn("vec_rank", row_number().over(vecW).cast("long"))
          .filter(col("vec_rank") <= 50)
          .select("doc_id", "vec_rank")
        lex.join(vec, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
            (coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
             coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
              .as("rrf"))
          .orderBy(desc("rrf"), asc("doc_id"))
          .limit(20)
      },
      oracle = Some("""
        WITH lex AS (
          SELECT doc_id, lex_rank FROM (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY tf DESC, doc_id)
                     AS BIGINT) AS lex_rank
            FROM (
              SELECT doc_id,
                     CAST(len(list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> x IN ('join', 'filter', 'scan'))) AS BIGINT) AS tf
              FROM documents) z
            WHERE tf > 0) r
          WHERE lex_rank <= 50),
        qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 0),
        vec AS (
          SELECT doc_id, vec_rank FROM (
            SELECT vec_id AS doc_id,
                   CAST(row_number() OVER (ORDER BY
                     list_cosine_similarity(embedding::DOUBLE[], qv) DESC,
                     vec_id) AS BIGINT) AS vec_rank
            FROM embeddings CROSS JOIN qv) r
          WHERE vec_rank <= 50)
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               l.lex_rank, v.vec_rank,
               COALESCE(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0)
                 + COALESCE(CAST(1 AS DOUBLE) / (60 + v.vec_rank), 0) AS rrf
        FROM lex l FULL OUTER JOIN vec v ON v.doc_id = l.doc_id
        ORDER BY rrf DESC, doc_id LIMIT 20""")),

    // ---------------------------------------------------------------- a17
    // K-MEANS CONVERGENCE STEP: run one MORE Lloyd iteration on a03's
    // trained quantizer and report, per cell, the membership count and
    // the squared centroid movement — the monitoring loop of distributed
    // clustering ("train until movement < ε"). Movement is computed in
    // integer 1e-6 units (both 6-dp-quantized centroid grids snapped to
    // micro-units by the a05 floor-rounding scheme, differenced and
    // squared as BIGINT) so the convergence number is engine/partition-
    // exact. Shapes: one more n×8 broadcast-assign pass + a (cell, dim)-
    // keyed mean — identical cost class to the training iteration
    // itself; output is |cells| rows.
    "a17_kmeans_step" -> QueryDef(
      build = (s, d) => {
        val (trained, asg2) = ivfTrainedAssigned(t(s, d, "embeddings"))
        val cents2 = asg2
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("cell", "pos")
          .agg(round(avg(col("v").cast("double")), 6).as("v2"))
        val c1 = trained.select(col("cent_id").as("cell"),
          posexplode(col("cv")).as(Seq("pos", "v1")))
        val mv = c1.join(cents2, Seq("cell", "pos"))
          .select(col("cell"),
            (floor(col("v1") * 1e6 + 0.5).cast("long") -
              floor(col("v2") * 1e6 + 0.5).cast("long")).as("dd"))
          .groupBy("cell")
          .agg(sum(col("dd") * col("dd")).as("move_e12"))
        val n = asg2.groupBy("cell").agg(count(lit(1)).as("n_assigned"))
        mv.join(n, Seq("cell"), "left")
          .select(col("cell"),
            coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
            col("move_e12"))
          .orderBy("cell")
      },
      oracle = Some(s"""$IVF_ORACLE_CTES,
        ex2 AS (
          SELECT cell, unnest(embedding::DOUBLE[]) AS v,
                 unnest(range(64)) AS pos
          FROM asg2),
        c2 AS (SELECT cell, pos, round(avg(v), 6) AS v2
               FROM ex2 GROUP BY 1, 2),
        c1 AS (SELECT cent_id AS cell, unnest(cv) AS v1,
                      unnest(range(64)) AS pos
               FROM cents),
        dd AS (
          SELECT c1.cell,
                 CAST(floor(c1.v1 * 1e6 + 0.5) AS BIGINT)
                   - CAST(floor(c2.v2 * 1e6 + 0.5) AS BIGINT) AS d
          FROM c1 JOIN c2 ON c2.cell = c1.cell AND c2.pos = c1.pos),
        mv AS (SELECT cell, CAST(sum(d * d) AS BIGINT) AS move_e12
               FROM dd GROUP BY 1),
        n AS (SELECT cell, count(*) AS n_assigned FROM asg2 GROUP BY 1)
        SELECT mv.cell,
               CAST(coalesce(n.n_assigned, 0) AS BIGINT) AS n_assigned,
               mv.move_e12
        FROM mv LEFT JOIN n ON n.cell = mv.cell
        ORDER BY mv.cell""")),

    // ---------------------------------------------------------------- a18
    // MATRYOSHKA/TRUNCATION EVAL: recall@k of brute-force search run on
    // the FIRST 16 of 64 dimensions against the full-dimension truth —
    // the dimension-truncation trade-off audit (store 4× fewer bytes,
    // scan 4× faster — at what recall?) that decides whether an MRL-style
    // prefix index is safe for a corpus. Same cost shape as a01 twice
    // (broadcast query set, map-side scores, per-query top-k), join on
    // the two bounded top-k lists.
    "a18_mrl_eval" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val exact = bruteTopK(e).select(col("q_id"), col("vec_id"))
        val e16 = e.withColumn("embedding",
          expr("slice(embedding, 1, 16)"))
        val approx = bruteTopK(e16)
          .select(col("q_id").as("aq"), col("vec_id").as("av"))
        val hits = exact.join(approx,
            col("q_id") === col("aq") && col("vec_id") === col("av"))
          .groupBy("q_id").agg(count(lit(1)).as("h"))
        queriesDf(e).select(col("q_id"))
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("h"), lit(0L)).as("n_hits"),
            (coalesce(col("h"), lit(0L)).cast("double") / TOPK)
              .as("recall_at_k"))
          .orderBy("q_id")
      },
      oracle = Some(s"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qv
                   FROM embeddings WHERE vec_id < $QUERY_IDS_BELOW),
        c AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= $QUERY_IDS_BELOW),
        exact AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY list_cosine_similarity(qv::DOUBLE[],
                                embedding::DOUBLE[]) DESC NULLS LAST,
                       vec_id) AS rk
            FROM q CROSS JOIN c) z
          WHERE rk <= $TOPK),
        approx AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY list_cosine_similarity(
                                (qv::DOUBLE[])[1:16],
                                (embedding::DOUBLE[])[1:16])
                       DESC NULLS LAST, vec_id) AS rk
            FROM q CROSS JOIN c) z
          WHERE rk <= $TOPK),
        h AS (
          SELECT e.q_id, count(*) AS h
          FROM exact e JOIN approx a
            ON a.q_id = e.q_id AND a.vec_id = e.vec_id
          GROUP BY 1)
        SELECT q.q_id, CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
               CAST(coalesce(h.h, 0) AS DOUBLE) / $TOPK AS recall_at_k
        FROM q LEFT JOIN h ON h.q_id = q.q_id
        ORDER BY q.q_id""")),

    // ---------------------------------------------------------------- a19
    // FILTERED VECTOR SEARCH: top-k under a metadata predicate
    // (label = query's label), PRE-FILTER (exact: filter candidates,
    // then rank — the correct answer) vs POST-FILTER (rank globally to
    // depth 50, then filter — the cheap shortcut every vector store
    // tempts you with). Output: per query, the post-filter survivor
    // count and its recall against the pre-filter truth — quantifying
    // exactly what the shortcut loses when the predicate is selective.
    // Both passes are a01's broadcast-scan shape; the predicate reaches
    // the scan in the pre-filter plan.
    "a19_filtered_ann" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val q = e.filter(col("vec_id") < QUERY_IDS_BELOW)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
            col("label").as("q_label"))
        val c = e.filter(col("vec_id") >= QUERY_IDS_BELOW)
        // pre-filter: restrict candidates to the query's label FIRST
        val wPre = Window.partitionBy("q_id")
          .orderBy(desc("cs"), asc("vec_id"))
        val pre = c.join(broadcast(q), col("label") === col("q_label"))
          .select(col("q_id"), col("vec_id"),
            VectorFns.cosine(col("qv"), col("embedding")).as("cs"))
          .withColumn("rk", row_number().over(wPre))
          .filter(col("rk") <= TOPK)
          .select(col("q_id"), col("vec_id"))
        // post-filter: global depth-50 ranking, THEN the predicate
        val wPost = Window.partitionBy("q_id")
          .orderBy(desc("cs"), asc("vec_id"))
        val post = c.crossJoin(broadcast(q.select(col("q_id"), col("qv"),
            col("q_label"))))
          .select(col("q_id"), col("vec_id"), col("label"), col("q_label"),
            VectorFns.cosine(col("qv"), col("embedding")).as("cs"))
          .withColumn("rk", row_number().over(wPost))
          .filter(col("rk") <= 50 && col("label") === col("q_label"))
          .withColumn("frk", row_number().over(
            Window.partitionBy("q_id").orderBy("rk")))
          .filter(col("frk") <= TOPK)
          .select(col("q_id").as("pq"), col("vec_id").as("pv"))
        val hits = pre.join(post,
            col("q_id") === col("pq") && col("vec_id") === col("pv"))
          .groupBy("q_id").agg(count(lit(1)).as("h"))
        val survivors = post.groupBy("pq").agg(count(lit(1)).as("nf"))
        q.select("q_id")
          .join(survivors, col("q_id") === col("pq"), "left")
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("nf"), lit(0L)).as("n_postfilter"),
            coalesce(col("h"), lit(0L)).as("n_hits"),
            (coalesce(col("h"), lit(0L)).cast("double") / TOPK)
              .as("recall_vs_prefilter"))
          .orderBy("q_id")
      },
      oracle = Some(s"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS q_label
                   FROM embeddings WHERE vec_id < $QUERY_IDS_BELOW),
        c AS (SELECT vec_id, embedding, label FROM embeddings
              WHERE vec_id >= $QUERY_IDS_BELOW),
        pre AS (
          SELECT q_id, vec_id FROM (
            SELECT q.q_id, c.vec_id,
                   row_number() OVER (PARTITION BY q.q_id
                     ORDER BY list_cosine_similarity(qv::DOUBLE[],
                       c.embedding::DOUBLE[]) DESC NULLS LAST, c.vec_id)
                     AS rk
            FROM q JOIN c ON c.label = q.q_label) z
          WHERE rk <= $TOPK),
        post AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id, lbl_ok,
                   row_number() OVER (PARTITION BY q_id ORDER BY rk)
                     AS frk
            FROM (
              SELECT q.q_id, c.vec_id,
                     c.label = q.q_label AS lbl_ok,
                     row_number() OVER (PARTITION BY q.q_id
                       ORDER BY list_cosine_similarity(qv::DOUBLE[],
                         c.embedding::DOUBLE[]) DESC NULLS LAST,
                         c.vec_id) AS rk
              FROM q CROSS JOIN c) g
            WHERE rk <= 50 AND lbl_ok) z
          WHERE frk <= $TOPK),
        sv AS (SELECT q_id, count(*) AS nf FROM post GROUP BY 1),
        h AS (SELECT p.q_id, count(*) AS h
              FROM pre p JOIN post o
                ON o.q_id = p.q_id AND o.vec_id = p.vec_id
              GROUP BY 1)
        SELECT q.q_id,
               CAST(coalesce(sv.nf, 0) AS BIGINT) AS n_postfilter,
               CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
               CAST(coalesce(h.h, 0) AS DOUBLE) / $TOPK
                 AS recall_vs_prefilter
        FROM q LEFT JOIN sv ON sv.q_id = q.q_id
        LEFT JOIN h ON h.q_id = q.q_id
        ORDER BY q.q_id""")),

    // ---------------------------------------------------------------- a20
    // Diversified retrieval: per query, the single best match PER LABEL
    // facet, then the top-5 facets by that best score — the "don't show
    // five near-copies from one cluster" re-ranking every retrieval UI
    // and every diverse-sampling data pipeline needs. Scale shape: the
    // scored stream collapses FIRST through a (q_id, label) min-struct
    // hash aggregate (map-side partial — never a corpus-sized window),
    // and only the |queries|×|labels| facet table is ranked. Tie-break
    // inside a facet: higher score, then smaller vec_id (min-struct over
    // (-score, vec_id)); across facets: score desc, vec_id asc.
    "a20_diverse_topk" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val q = queriesDf(e)
        val c = e.filter(col("vec_id") >= QUERY_IDS_BELOW)
        val best = c.crossJoin(broadcast(q))
          .select(col("q_id"), col("label"), col("vec_id"),
            VectorFns.cosine(col("qv"), col("embedding")).as("sc"))
          .groupBy("q_id", "label")
          .agg(min(struct((-col("sc")).as("ns"), col("vec_id").as("vec_id")))
            .as("b"))
          .select(col("q_id"), col("label"),
            col("b.vec_id").as("vec_id"), (-col("b.ns")).as("sc"))
        val w = Window.partitionBy("q_id")
          .orderBy(desc("sc"), asc("vec_id"))
        best.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 5)
          .select(col("q_id"), col("rk"), col("label"), col("vec_id"),
            round(col("sc"), 4).as("score"))
          .orderBy("q_id", "rk")
      },
      oracle = Some(s"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qv
                   FROM embeddings WHERE vec_id < $QUERY_IDS_BELOW),
        c AS (SELECT vec_id, label, embedding FROM embeddings
              WHERE vec_id >= $QUERY_IDS_BELOW),
        sc AS (SELECT q_id, label, vec_id,
                      list_cosine_similarity(qv::DOUBLE[],
                        embedding::DOUBLE[]) AS sc
               FROM q CROSS JOIN c),
        best AS (
          SELECT q_id, label, vec_id, sc FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id, label
                ORDER BY sc DESC, vec_id) AS brk FROM sc) z
          WHERE brk = 1)
        SELECT q_id,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY sc DESC, vec_id) AS BIGINT) AS rk,
               label, vec_id, round(sc, 4) AS score
        FROM best
        QUALIFY rk <= 5
        ORDER BY q_id, rk""")),

    // ---------------------------------------------------------------- a21
    // Simplified SILHOUETTE per cell of the shared a03 quantizer: for
    // each vector, a = cosine distance to its own centroid, b = distance
    // to the nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1,1]. The
    // per-cell mean separates "tight, well-separated cell" (→1) from
    // "cell overlapping a neighbor" (→0/negative) — the audit that
    // decides whether the IVF needs more cells BEFORE recall degrades
    // (a13 profiles cohesion only; silhouette adds separation). Physical
    // shape: n×8 candidate rows from a broadcast of the 8-row centroid
    // table, folded by ONE vec_id-keyed hash agg (map-side partial
    // max/conditional-max), then a |cells|-row rollup — no window, no
    // pair materialization. Means via the 6-dp decimal-sum scheme.
    "a21_silhouette" -> QueryDef(
      build = (s, d) => {
        val (trained, assigned) = ivfTrainedAssigned(t(s, d, "embeddings"))
        val per = assigned.crossJoin(broadcast(trained))
          .select(col("vec_id"), col("cell"), col("cent_id"),
            VectorFns.cosine(col("embedding"), col("cv")).as("cos"))
          .groupBy("vec_id", "cell")
          .agg(max(when(col("cent_id") === col("cell"), col("cos")))
            .as("cos_own"),
            max(when(col("cent_id") =!= col("cell"), col("cos")))
            .as("cos_other"))
          .select(col("cell"),
            (lit(1.0) - col("cos_own")).as("a"),
            (lit(1.0) - col("cos_other")).as("b"))
          .select(col("cell"),
            when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
              .otherwise((col("b") - col("a"))
                / greatest(col("a"), col("b"))).as("sil"))
        per.groupBy("cell")
          .agg(count(lit(1)).as("n_vecs"),
            round(AggFns.dsumRaw(col("sil")).cast("double") /
              count(lit(1)), 4).as("avg_sil"),
            round(min("sil"), 4).as("min_sil"))
          .orderBy("cell")
      },
      oracle = Some(s"""$IVF_ORACLE_CTES,
        sc AS (
          SELECT a.vec_id, a.cell, c.cent_id,
                 list_cosine_similarity(a.embedding::DOUBLE[], c.cv) AS cos
          FROM asg2 a CROSS JOIN cents c),
        ab AS (
          SELECT vec_id, cell,
                 1.0 - max(CASE WHEN cent_id = cell THEN cos END) AS a,
                 1.0 - max(CASE WHEN cent_id <> cell THEN cos END) AS b
          FROM sc GROUP BY vec_id, cell),
        sil AS (
          SELECT cell,
                 CASE WHEN greatest(a, b) = 0.0 THEN 0.0
                      ELSE (b - a) / greatest(a, b) END AS sil
          FROM ab)
        SELECT cell, count(*) AS n_vecs,
               round(CAST(sum(CAST(round(sil, 6) AS DECIMAL(30,6)))
                 AS DOUBLE) / count(*), 4) AS avg_sil,
               round(min(sil), 4) AS min_sil
        FROM sil GROUP BY cell ORDER BY cell""")),

    // ---------------------------------------------------------------- a22
    // Hard-negative mining / label-noise audit: for each query vector,
    // the nearest SAME-label corpus vector (hardest positive boundary)
    // and the nearest DIFFERENT-label one (hardest negative — the pair
    // a contrastive trainer most wants), plus the margin between them.
    // A negative margin (closer cross-label neighbor than any same-label
    // one) flags the query as a label-noise candidate. Physically: one
    // corpus scan against the broadcast query set, folded by TWO
    // conditional min-struct aggregates in a single q_id-keyed hash agg
    // with map-side partials — never a window over the n×|q| candidate
    // stream, so at corpus scale this is one pass + a |q|-row result.
    // Margin/noise are derived from the 4-dp-rounded scores (a
    // difference of two 4-dp values can never sit on a 5th-decimal
    // rounding boundary, so the re-round is engine-stable).
    "a22_hard_negatives" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val q = e.filter(col("vec_id") < QUERY_IDS_BELOW)
          .select(col("vec_id").as("q_id"),
            col("label").cast("long").as("q_label"),
            col("embedding").as("qv"))
        val c = e.filter(col("vec_id") >= QUERY_IDS_BELOW)
        c.crossJoin(broadcast(q))
          .select(col("q_id"), col("q_label"),
            (col("label").cast("long") === col("q_label")).as("same"),
            struct(
              coalesce(-VectorFns.cosine(col("qv"), col("embedding")),
                lit(Double.PositiveInfinity)).as("ns"),
              col("vec_id").as("vec_id")).as("cand"))
          .groupBy("q_id", "q_label")
          .agg(min(when(col("same"), col("cand"))).as("p"),
            min(when(!col("same"), col("cand"))).as("n"))
          .select(col("q_id"), col("q_label"),
            col("p.vec_id").as("pos_id"), round(-col("p.ns"), 4).as("pos_score"),
            col("n.vec_id").as("neg_id"), round(-col("n.ns"), 4).as("neg_score"))
          .withColumn("margin", round(col("pos_score") - col("neg_score"), 4))
          .withColumn("label_noise", col("neg_score") > col("pos_score"))
          .orderBy("q_id")
      },
      oracle = Some(s"""
        WITH q AS (SELECT vec_id AS q_id, CAST(label AS BIGINT) AS q_label,
                          embedding AS qv
                   FROM embeddings WHERE vec_id < $QUERY_IDS_BELOW),
        c AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding
              FROM embeddings WHERE vec_id >= $QUERY_IDS_BELOW),
        sc AS (SELECT q_id, q_label, vec_id, label = q_label AS same,
                      list_cosine_similarity(qv::DOUBLE[],
                                             embedding::DOUBLE[]) AS raw
               FROM q CROSS JOIN c),
        best AS (
          SELECT *, row_number() OVER (PARTITION BY q_id, same
                      ORDER BY raw DESC, vec_id) AS rk
          FROM sc),
        g AS (
          SELECT q_id, q_label,
                 max(CASE WHEN same THEN vec_id END) AS pos_id,
                 round(max(CASE WHEN same THEN raw END), 4) AS pos_score,
                 max(CASE WHEN NOT same THEN vec_id END) AS neg_id,
                 round(max(CASE WHEN NOT same THEN raw END), 4) AS neg_score
          FROM best WHERE rk = 1 GROUP BY q_id, q_label)
        SELECT q_id, q_label, pos_id, pos_score, neg_id, neg_score,
               round(pos_score - neg_score, 4) AS margin,
               neg_score > pos_score AS label_noise
        FROM g ORDER BY q_id""")),

    // ---------------------------------------------------------------- a23
    // IVF index MAINTENANCE plan: per cell of the shared a03 quantizer,
    // occupancy vs the balanced target (total/8) and a split/merge/ok
    // verdict — the rebalance decision an embedding store runs
    // periodically, because a cell at 3× target serves 3× the probe
    // latency (a03b scans whole cells) and near-empty cells waste
    // centroid budget. Verdicts by exact integer cross-multiplication
    // (split: n·16 > 3·total, i.e. > 1.5× target; merge: n·16 < total,
    // i.e. < 0.5× target) — no float, engine/partition-stable. Empty
    // cells surface via the trained-centroid left join (8 rows
    // broadcast), occupancy share in exact bp. One |cells|-row agg over
    // the assignment — the corpus shuffles once, keyed by cell.
    "a23_cell_rebalance" -> QueryDef(
      build = (s, d) => {
        val (trained, assigned) = ivfTrainedAssigned(t(s, d, "embeddings"))
        val sz = assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        val tot = sz.agg(sum("n_vecs").as("total"))
        trained.select(col("cent_id").as("cell"))
          .join(sz, Seq("cell"), "left")
          .select(col("cell"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
          .crossJoin(broadcast(tot))
          .select(col("cell"), col("n_vecs"),
            expr("n_vecs * 10000 div total").as("share_bp"),
            expr("CASE WHEN n_vecs * 16 > total * 3 THEN 'split' " +
              "WHEN n_vecs * 16 < total THEN 'merge' " +
              "ELSE 'ok' END").as("verdict"))
          .orderBy("cell")
      },
      oracle = Some(s"""$IVF_ORACLE_CTES,
        sz AS (SELECT cell, count(*) AS n_vecs FROM asg2 GROUP BY cell),
        tt AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM sz),
        o AS (SELECT c.cent_id AS cell,
                     CAST(coalesce(sz.n_vecs, 0) AS BIGINT) AS n_vecs
              FROM cents c LEFT JOIN sz ON sz.cell = c.cent_id)
        SELECT cell, n_vecs,
               CAST(n_vecs * 10000 // total AS BIGINT) AS share_bp,
               CASE WHEN n_vecs * 16 > total * 3 THEN 'split'
                    WHEN n_vecs * 16 < total THEN 'merge'
                    ELSE 'ok' END AS verdict
        FROM o CROSS JOIN tt ORDER BY cell""")),

    // ---------------------------------------------------------------- a24
    // Embedding DISTRIBUTION-DRIFT audit: per label, the cosine between
    // the even-half and odd-half centroids (p14's even/odd snapshot
    // convention) — the "did the embedding model / upstream corpus
    // shift between ingestion batches?" tripwire run before mixing
    // snapshots into one index (drifted labels poison a03's cells and
    // a12's votes). A near-zero-mean label has NO stable centroid
    // direction and flags too (cos ≈ 0) — also the right answer: its
    // centroid is noise and centroid-based ops shouldn't trust it.
    // Per-(label, half, dim) means use the dsum scheme
    // (6-dp-rounded values summed in DECIMAL(30,6) — exact, partition-
    // order-free; the /n division and the 64-dim cosine fold are then
    // identical IEEE sequences on identical inputs on both engines).
    // One posexplode pass → |labels|×2×64 rows → |labels|-row report;
    // the corpus shuffles once, keyed by (label, half, dim).
    "a24_embedding_drift" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val means = e
          .select(col("label"), (col("vec_id") % 2).as("half"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("label", "half", "pos")
          .agg((AggFns.dsumRaw(col("v")).cast("double") /
            count(lit(1))).as("mv"))
          .groupBy("label", "half")
          .agg(map_from_arrays(collect_list("pos"), collect_list("mv"))
            .as("m"))
          .select(col("label"), col("half"),
            expr("transform(sequence(0, 63), i -> m[cast(i AS int)])")
              .as("cv"))
        val cnt = e.groupBy(col("label"), (col("vec_id") % 2).as("half"))
          .agg(count(lit(1)).as("n"))
        val ev = means.filter(col("half") === 0)
          .join(cnt.filter(col("half") === 0).select(col("label"),
            col("n").as("n_even")), "label")
          .select(col("label"), col("cv").as("c0"), col("n_even"))
        val od = means.filter(col("half") === 1)
          .join(cnt.filter(col("half") === 1).select(col("label"),
            col("n").as("n_odd")), "label")
          .select(col("label"), col("cv").as("c1"), col("n_odd"))
        ev.join(od, "label")
          .select(col("label"), col("n_even"), col("n_odd"),
            round(VectorFns.cosine(col("c0"), col("c1")), 4)
              .as("drift_cos"))
          .withColumn("drifting", col("drift_cos") < 0.999)
          .orderBy("label")
      },
      oracle = Some("""
        WITH x AS (
          SELECT label, vec_id % 2 AS half,
                 unnest(embedding::DOUBLE[]) AS v,
                 unnest(range(64)) AS pos
          FROM embeddings),
        mn AS (
          SELECT label, half, pos,
                 CAST(sum(CAST(round(v, 6) AS DECIMAL(30,6))) AS DOUBLE)
                   / count(*) AS mv
          FROM x GROUP BY label, half, pos),
        cv AS (
          SELECT label, half, list(mv ORDER BY pos) AS cv
          FROM mn GROUP BY label, half),
        ct AS (
          SELECT label, vec_id % 2 AS half, count(*) AS n
          FROM embeddings GROUP BY 1, 2)
        SELECT e.label, ce.n AS n_even, co.n AS n_odd,
               round(list_cosine_similarity(e.cv, o.cv), 4) AS drift_cos,
               round(list_cosine_similarity(e.cv, o.cv), 4) < 0.999
                 AS drifting
        FROM cv e
        JOIN cv o ON o.label = e.label AND e.half = 0 AND o.half = 1
        JOIN ct ce ON ce.label = e.label AND ce.half = 0
        JOIN ct co ON co.label = e.label AND co.half = 1
        ORDER BY e.label""")),

    // ---------------------------------------------------------------- a25
    // RETRIEVE-THEN-RERANK, the production two-stage shape: stage 1
    // shortlists 50 candidates per query with a06's INT8 integer dot
    // (4 bytes/dim → 1, exact integer scores, no floats in the scan);
    // stage 2 rescores ONLY the 50-row shortlist with the exact float
    // cosine and cuts to top-10; the output row per query is the
    // recall of that pipeline against a01's exact top-10 — the number
    // that tells you whether int8 recall loss is acceptable BEFORE you
    // ship the cheap scan to 100 TB (where stage 1 is the only pass
    // that touches every vector and stage 2 touches 50·|queries| rows).
    // Everything rides the bounded-heap window idiom of a01/a06.
    "a25_two_stage_rerank" -> QueryDef(
      build = (s, d) => {
        val e = t(s, d, "embeddings")
        val shortDepth = 50
        val codes = quantizedCodes(e).select(col("vec_id"), col("qv"))
        val qc = codes.filter(col("vec_id") < QUERY_IDS_BELOW)
          .select(col("vec_id").as("q_id"), col("qv").as("qa"))
        val cc = codes.filter(col("vec_id") >= QUERY_IDS_BELOW)
        val wI = Window.partitionBy("q_id")
          .orderBy(desc("iscore"), asc("vec_id"))
        val short = cc.crossJoin(broadcast(qc))
          .select(col("q_id"), col("vec_id"),
            aggregate(zip_with(col("qa"), col("qv"), _ * _),
              lit(0L), _ + _).as("iscore"))
          .withColumn("srk", row_number().over(wI))
          .filter(col("srk") <= shortDepth)
          .select("q_id", "vec_id")
        val wX = Window.partitionBy("q_id")
          .orderBy(desc("score"), asc("vec_id"))
        val rer = short
          .join(e.select(col("vec_id"), col("embedding")), "vec_id")
          .join(broadcast(queriesDf(e)), "q_id")
          .select(col("q_id"), col("vec_id"),
            VectorFns.cosine(col("qv"), col("embedding")).as("score"))
          .withColumn("rk", row_number().over(wX))
          .filter(col("rk") <= TOPK)
          .select(col("q_id"), col("vec_id"))
        val exact = bruteTopK(e)
          .select(col("q_id").as("eq"), col("vec_id").as("ev"))
        val hits = rer.join(exact,
            col("q_id") === col("eq") && col("vec_id") === col("ev"))
          .groupBy("q_id").agg(count(lit(1)).as("h"))
        queriesDf(e).select(col("q_id"))
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("h"), lit(0L)).as("n_hits"),
            (coalesce(col("h"), lit(0L)).cast("double") / TOPK)
              .as("recall_at_k"))
          .orderBy("q_id")
      },
      oracle = Some(s"""
        WITH x AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        sc0 AS (
          SELECT vec_id, e,
                 list_max(list_transform(e, v -> abs(v))) / 127.0 AS scale
          FROM x),
        qz AS (
          SELECT vec_id, list_transform(e, v -> CAST(
                   CASE WHEN scale = 0 THEN 0
                        WHEN v >= 0 THEN floor(v / scale + 0.5)
                        ELSE -floor(-v / scale + 0.5) END AS BIGINT)) AS qv
          FROM sc0),
        qs AS (SELECT vec_id AS q_id, qv AS qa FROM qz
               WHERE vec_id < $QUERY_IDS_BELOW),
        cs AS (SELECT vec_id, qv FROM qz WHERE vec_id >= $QUERY_IDS_BELOW),
        short AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY
                     CAST(coalesce(list_sum(list_transform(range(len(qa)),
                       i -> qa[i+1] * qv[i+1])), 0) AS BIGINT) DESC,
                     vec_id) AS srk
            FROM qs CROSS JOIN cs) z
          WHERE srk <= 50),
        q AS (SELECT vec_id AS q_id, embedding AS qe
              FROM embeddings WHERE vec_id < $QUERY_IDS_BELOW),
        rer AS (
          SELECT q_id, vec_id FROM (
            SELECT s.q_id, s.vec_id,
                   row_number() OVER (PARTITION BY s.q_id ORDER BY
                     list_cosine_similarity(q.qe::DOUBLE[],
                       em.embedding::DOUBLE[]) DESC, s.vec_id) AS rk
            FROM short s
            JOIN embeddings em ON em.vec_id = s.vec_id
            JOIN q ON q.q_id = s.q_id) z
          WHERE rk <= $TOPK),
        c AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= $QUERY_IDS_BELOW),
        exact AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY list_cosine_similarity(qe::DOUBLE[],
                                embedding::DOUBLE[]) DESC, vec_id) AS rk
            FROM q CROSS JOIN c) z
          WHERE rk <= $TOPK),
        hits AS (
          SELECT r.q_id, count(*) AS h
          FROM rer r JOIN exact e
            ON e.q_id = r.q_id AND e.vec_id = r.vec_id
          GROUP BY r.q_id)
        SELECT q.q_id, CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
               CAST(coalesce(h.h, 0) AS DOUBLE) / $TOPK AS recall_at_k
        FROM q LEFT JOIN hits h ON h.q_id = q.q_id
        ORDER BY q.q_id"""))
  )
}

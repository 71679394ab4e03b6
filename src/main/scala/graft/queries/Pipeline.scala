package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Graft
import graft.engine.Num.xsum

/** LLM-training-data pipeline operators over `documents` / `embeddings`
  * / `events` — the beyond-reference capability area (BASELINE.json
  * north star): deduplication (exact + MinHash/LSH near-dup),
  * similarity search (cosine top-k), text analysis (quality stats,
  * tokenization), and JSON payload processing. The only reference
  * citation that applies is `cosine_similarity` in
  * `core/trino-main/.../operator/scalar/MathFunctions.java`; the rest
  * is capability-add designed Spark-first.
  *
  * Scale design (100 TB) is the point of this module:
  *  - near-dup detection NEVER forms the N² pair space: banded MinHash
  *    buckets candidate pairs by equal band-hash (a shuffle on the
  *    band key), and only candidates get exact-Jaccard verification;
  *  - similarity search broadcasts the (small) query set and keeps
  *    top-k per query as a rank-filter that Catalyst executes with
  *    bounded per-partition heaps (WindowGroupLimit), never a global
  *    sort of all pairs;
  *  - text/token statistics are embarrassingly parallel scans with
  *    partial/final aggregation — no shuffle of raw text bytes beyond
  *    the per-source rollup.
  *
  * Determinism: hashes are md5 (identical across engines), Jaccard and
  * cosine are exact-integer or left-fold-double arithmetic verified to
  * be bit-identical between Spark and the DuckDB oracle.
  */
object Pipeline {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Graft.load(s, dir, name)

  /** Native codegen dot product / cosine (functions/DotProduct.scala,
    * CosineSimilarity.scala) — same sequential-fold arithmetic as the
    * interpreted `aggregate(zip_with(...))` chains they replaced, so
    * oracle hashes are unchanged, but the kernel stays inside
    * whole-stage codegen (no per-element lambda interpretation). */
  private def ndot(x: Column, y: Column): Column =
    call_function("dot_product", x, y)
  private def ncos(x: Column, y: Column): Column =
    call_function("cosine_similarity", x, y)

  private def srcTag(dir: String, name: String): String =
    Graft.srcTag(dir, name)

  /** md5-derived pseudo-random hyperplane coefficients for the LSH
    * banding paths (p8/p14): coef(plane, dim) = first 8 hex chars of
    * md5("plane:dim") as an unsigned int, % 1000 − 500, as double —
    * byte-for-byte the arithmetic the DuckDB oracle computes with
    * `('0x' || substring(md5(...), 1, 8))::BIGINT % 1000 - 500`.
    * The planes are static configuration, so they are computed ONCE
    * here at plan-build time and embedded as literal arrays: the
    * bucketing stage becomes a pure projection (one dot product per
    * plane inside whole-stage codegen) instead of the former
    * crossJoin-explode + groupBy, whose aggregation exchange carried
    * the 64-float embedding as a GROUP KEY — the widest avoidable
    * shuffle on the pipeline surface (r17 verdict item 1). */
  private def planeCoefs(plane: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to 64).toArray.map { dim =>
      val hex = md.digest(s"$plane:$dim".getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 1000L - 500L).toDouble
    }
  }

  /** Sign-bit band value: Σ over the band's planes of (1 << j) when
    * the embedding's projection onto plane coefs is positive — all
    * inside one codegen'd projection, no shuffle. */
  private def bandValue(emb: Column, firstPlane: Int, bits: Int): Column =
    (0 until bits).map { j =>
      when(ndot(emb, typedLit(planeCoefs(firstPlane + j).toSeq)) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  // -------------------------------------------------- p1 exact dedup
  /** Exact-dedup census: total docs, distinct texts by content hash,
    * and distinct bag-of-words fingerprints (md5 of the sorted
    * distinct word set — catches word-order permutations that byte
    * hashing misses). The bag text is NFC-normalized BEFORE hashing
    * (reference `StringFunctions.java:817` normalize): visually
    * identical strings whose accents differ only in composition
    * (é vs e+U+0301) must land in one dedup bucket — hashing
    * un-normalized text silently splits them. At 100 TB this is one
    * hash-aggregate over the corpus; hashes are computed scan-side so
    * only 16-byte digests shuffle, never the text. */
  def p1(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_distinct_texts"),
      countDistinct(
        md5(concat_ws(" ", array_sort(array_distinct(
          split(call_udf("normalize", col("text"), lit("NFC")), " "))))))
        .as("n_distinct_bags"))

  val p1Sql: String =
    """SELECT count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_distinct_texts,
      |  count(DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(nfc_normalize(text), ' '))), ' '))) AS n_distinct_bags
      |FROM documents""".stripMargin

  // ----------------------------------------------- p2 dedup keeper
  /** Keeper selection for duplicate groups: bucket by a dedup key,
    * keep min(doc_id), count the evicted. (The key here is
    * (lang, n_chars) so the fixture actually produces groups; with a
    * content hash the shape is identical.) */
  def p2(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"), col("n_chars"))
      .agg(min(col("doc_id")).as("keeper"), (count(lit(1)) - 1).as("dups_evicted"))
      .filter(col("dups_evicted") > 0)

  val p2Sql: String =
    """SELECT lang, n_chars, min(doc_id) AS keeper, count(*) - 1 AS dups_evicted
      |FROM documents GROUP BY lang, n_chars
      |HAVING count(*) - 1 > 0""".stripMargin

  // ------------------------------------------------ p3 MinHash / LSH
  /** Near-duplicate detection via banded MinHash-LSH over word
    * 3-gram shingles, verified with exact Jaccard >= 0.8.
    *
    * Pipeline: shingle (linear) → 8 min-hashes per doc (md5 keyed by
    * seed; one hash-aggregate) → 4 bands of 2 rows → candidate pairs
    * join on equal (band, band-hash) → exact Jaccard only on
    * candidates. With signature rows r=2, bands b=4, a pair of true
    * Jaccard j collides with probability 1-(1-j²)⁴ (≈ 1.0 at j≥0.9,
    * 0.92 at j=0.8) — the planted near-dups here sit at j≥0.9.
    * At 100 TB: no all-pairs product ever exists; the band join's key
    * cardinality ≈ docs×4 and bucket sizes stay tiny because a
    * 32-hex-char band hash only collides for near-identical
    * signatures. */
  def p3(s: SparkSession, dir: String): DataFrame = {
    // shingles in the compiled word_ngrams kernel (one pass, no
    // interpreted transform/slice lambdas — see WordNGrams.scala);
    // docs with < 3 words have no 3-gram shingles, mirrored in the
    // oracle's generate_series(1, len(w) - 2)
    val sh = t(s, dir, "documents")
      .select(col("doc_id"),
        array_distinct(
          call_function("word_ngrams", col("text"), lit(3))).as("shingles"))

    // All 8 min-hashes as FLAT codegen'd columns: one explode to
    // (doc, shingle) rows, eight md5 projections, one hash-aggregate
    // with eight mins. Partial (map-side) aggregation reduces each
    // partition to docs x 8 digests before the exchange, so the
    // shuffle moves signatures, never shingles — the scale-governing
    // property. (A per-row nested-lambda formulation avoids even that
    // shuffle but falls out of whole-stage codegen and measured 2x
    // slower; the flat explode+partial-agg keeps both properties.)
    val minhash = sh
      .select(col("doc_id"), explode(col("shingles")).as("g"))
      .groupBy(col("doc_id"))
      .agg(
        min(md5(concat(lit("1:"), col("g")))).as("mh1"),
        (2 to 8).map(i =>
          min(md5(concat(lit(s"$i:"), col("g")))).as(s"mh$i")): _*)

    val bands = minhash
      .select(col("doc_id"), posexplode(array((0 to 3).map(b =>
        md5(concat_ws("|", col(s"mh${2 * b + 1}"), col(s"mh${2 * b + 2}")))): _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bh"))

    val a = bands.select(col("band").as("band_a"), col("bh").as("bh_a"), col("doc_id").as("doc_a"))
    val b = bands.select(col("band").as("band_b"), col("bh").as("bh_b"), col("doc_id").as("doc_b"))
    val cand = a.join(b,
        col("band_a") === col("band_b") && col("bh_a") === col("bh_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()

    val shA = sh.select(col("doc_id").as("da"), col("shingles").as("sha"))
    val shB = sh.select(col("doc_id").as("db"), col("shingles").as("shb"))
    cand
      .join(shA, col("doc_a") === col("da"))
      .join(shB, col("doc_b") === col("db"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb")))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  val p3Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(w) - 2),
      |    i -> array_to_string(w[i:i+2], ' '))) AS shingles
      |  FROM words),
      |mh AS (
      |  SELECT doc_id, list_transform(generate_series(1, 8),
      |    s -> list_min(list_transform(shingles, g -> md5(s || ':' || g)))) AS mhs
      |  FROM sh),
      |bands AS (
      |  SELECT doc_id, b.band,
      |    md5(mhs[b.band * 2 + 1] || '|' || mhs[b.band * 2 + 2]) AS bh
      |  FROM mh, unnest(generate_series(0, 3)) AS b(band)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  len(list_intersect(x.shingles, y.shingles))::DOUBLE
      |    / len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
      |FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id
      |WHERE len(list_intersect(x.shingles, y.shingles))::DOUBLE
      |    / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.8""".stripMargin

  // --------------------------------------------- p4 cosine top-k ANN
  /** Similarity search: brute-force cosine top-5 for a query set over
    * the embedding corpus. Cosine is computed as a left-fold over
    * float→double casts (bit-identical to the oracle's list_sum — both
    * are sequential IEEE summation over the same element order).
    *
    * At 100 TB: the query set broadcasts (no shuffle of the corpus);
    * the rank()<=k filter plans as WindowGroupLimit → bounded per-
    * partition heaps, then a k×|queries| merge. The LSH-bucketed
    * variant for larger query sets reuses p3's banding machinery over
    * sign-random-projection hashes. */
  def p4(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val pairs = q.join(e, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        ncos(col("qe"), col("embedding")).as("cos"))
    val topk = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    pairs.withColumn("rn", row_number().over(topk))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id"), col("cos"))
  }

  val p4Sql: String =
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
      |p AS (
      |  SELECT qid, e.vec_id,
      |    list_sum(list_transform(generate_series(1, len(qe)),
      |      i -> CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(generate_series(1, len(qe)),
      |         i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
      |         i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) AS cos
      |  FROM q, embeddings e WHERE e.vec_id <> qid)
      |SELECT qid, vec_id, cos FROM (
      |  SELECT qid, vec_id, cos,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
      |  FROM p) r
      |WHERE rn <= 5""".stripMargin

  // ------------------------------------------------ p5 text quality
  /** Per-document quality features: word/distinct-word counts, mean
    * word length, punctuation count, and a stop-word ratio — the
    * standard pre-training quality-filter signals, all exact integer
    * arithmetic pushed through identical double divisions. */
  def p5(s: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val stops = Seq("data", "table", "row", "value")
    t(s, dir, "documents").select(
      col("doc_id"),
      size(w).cast("long").as("n_words"),
      size(array_distinct(w)).cast("long").as("n_distinct_words"),
      (aggregate(transform(w, x => length(x)), lit(0), (a, x) => a + x).cast("double") /
        size(w)).as("avg_word_len"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[a-z0-9 ]", ""))).cast("long").as("punct_cnt"),
      (size(filter(w, x => x.isin(stops: _*))).cast("double") / size(w)).as("stop_ratio"))
  }

  val p5Sql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_words,
      |  len(list_distinct(string_split(text, ' '))) AS n_distinct_words,
      |  CAST(list_sum(list_transform(string_split(text, ' '), x -> len(x))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS avg_word_len,
      |  len(text) - len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS punct_cnt,
      |  CAST(len(list_filter(string_split(text, ' '),
      |      x -> list_contains(['data','table','row','value'], x))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS stop_ratio
      |FROM documents""".stripMargin

  // -------------------------------------------- p6 token statistics
  /** BPE-ish regex tokenization (letter runs | digit runs | single
    * punctuation) rolled up per source: token count, vocabulary size,
    * total token chars. The regex stays in the shared subset of Java
    * and RE2 dialects so both engines tokenize identically. */
  def p6(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"),
        expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)").as("toks"))
      .select(col("source"), explode(col("toks")).as("tok"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("vocab"),
        sum(length(col("tok"))).cast("long").as("token_chars"))

  val p6Sql: String =
    """SELECT source, count(*) AS n_tokens, count(DISTINCT tok) AS vocab,
      |  CAST(sum(len(tok)) AS BIGINT) AS token_chars
      |FROM (SELECT source, unnest(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS tok
      |      FROM documents) t
      |GROUP BY source""".stripMargin

  // ----------------------------------------------- p7 JSON payloads
  /** JSON payload extraction over the event stream's `props` column
    * (SURVEY §2.9 JSON family: json_extract → get_json_object). */
  def p7(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("k")).cast("long").as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        countDistinct(col("k")).as("k_distinct"))

  val p7Sql: String =
    """SELECT event_type, count(*) AS cnt,
      |  CAST(sum(k) AS BIGINT) AS k_sum, min(k) AS k_min, max(k) AS k_max,
      |  count(DISTINCT k) AS k_distinct
      |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events) e
      |GROUP BY event_type""".stripMargin

  // ---------------------------------- p8 LSH-bucketed ANN (scale path)
  /** Approximate nearest neighbors via sign-random-projection LSH —
    * the scale path p4's brute force graduates to: 8 pseudo-random
    * hyperplanes (coefficients derived from md5 so BOTH engines
    * compute the identical planes — no RNG), each vector hashes to the
    * 8-bit sign pattern of its projections, and candidates are pairs
    * sharing the bucket. Exact cosine then ranks candidates per query.
    *
    * At 100 TB: bucketing is one narrow projection pass (embedding ×
    * 8×64 static coefficients), the candidate join keys on the bucket
    * id (2^k buckets — raise k to shrink buckets), and exact cosine
    * touches only candidates. The N² pair space never materializes.
    */
  def p8(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // 8-bit sign bucket per vector: the 8 md5-derived hyperplanes are
    // literal coefficient arrays (planeCoefs), so the bucket is one
    // codegen'd projection — no plane crossJoin, no groupBy, and no
    // aggregation exchange carrying the embedding as a group key
    // (the r16/r17 plan's widest shuffle, now gone entirely).
    val bucketed = e.select(col("vec_id"), col("embedding"),
      bandValue(col("embedding"), firstPlane = 0, bits = 8).as("bucket"))
    val q = bucketed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket").as("qb"))
    val cands = q.join(bucketed,
      col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
    val scored = cands.select(col("qid"), col("vec_id"),
      ncos(col("qe"), col("embedding")).as("cos"))
    val topk = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(topk))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"), col("cos"))
  }

  val p8Sql: String =
    """WITH planes AS (
      |  SELECT plane, list(coef ORDER BY dim) AS coefs FROM (
      |    SELECT p.plane, d.dim,
      |      CAST(CAST(('0x' || substring(md5(p.plane || ':' || d.dim), 1, 8)) AS BIGINT) % 1000 - 500 AS DOUBLE) AS coef
      |    FROM unnest(generate_series(0, 7)) AS p(plane),
      |         unnest(generate_series(1, 64)) AS d(dim)) c
      |  GROUP BY plane),
      |bucketed AS (
      |  SELECT vec_id, embedding, CAST(sum(bit) AS BIGINT) AS bucket FROM (
      |    SELECT e.vec_id, e.embedding,
      |      CASE WHEN list_sum(list_transform(generate_series(1, 64),
      |             i -> CAST(e.embedding[i] AS DOUBLE) * coefs[i])) > 0
      |           THEN (1 << CAST(plane AS INTEGER)) ELSE 0 END AS bit
      |    FROM embeddings e, planes) b
      |  GROUP BY vec_id, embedding),
      |q AS (
      |  SELECT vec_id AS qid, embedding AS qe, bucket AS qb
      |  FROM bucketed WHERE vec_id < 10),
      |scored AS (
      |  SELECT qid, b.vec_id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> CAST(qe[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
      |  FROM q JOIN bucketed b ON b.bucket = qb AND b.vec_id <> qid)
      |SELECT qid, vec_id, cos FROM (
      |  SELECT qid, vec_id, cos,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
      |  FROM scored) r
      |WHERE rn <= 3""".stripMargin

  // ----------------------------------- p9 end-to-end corpus pipeline
  /** The operators composed into the actual training-data pipeline:
    * quality gate (≥20 words) → exact dedup keep-first by content hash
    * → near-dup removal using the banded MinHash-LSH pairs (p3's
    * operator, drop-right policy: the higher doc_id of each verified
    * pair is evicted — a deterministic approximation of
    * connected-component clustering, which at scale runs as iterative
    * label propagation over the same pair list) → per-language corpus
    * census. Every stage is the declarative operator defined above, so
    * the whole pipeline is one Catalyst plan — no materialization
    * barriers between stages. */
  def p9(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val quality = docs.filter(size(split(col("text"), " ")) >= 20)
    val keepFirst = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    val exactKept = quality
      .withColumn("h", md5(col("text")))
      .withColumn("rn", row_number().over(keepFirst))
      .filter(col("rn") === 1).drop("h", "rn")
    val nearDupRight = p3(s, dir).select(col("doc_b")).distinct()
    exactKept
      .join(nearDupRight, exactKept("doc_id") === col("doc_b"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_chars")).cast("long").as("kept_chars"))
  }

  val p9Sql: String = {
    val pairsSub = p3Sql.linesIterator.map("  " + _).mkString("\n")
    s"""WITH quality AS (
       |  SELECT * FROM documents WHERE len(string_split(text, ' ')) >= 20),
       |exact_kept AS (
       |  SELECT * FROM (
       |    SELECT q.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM quality q) r
       |  WHERE rn = 1)
       |SELECT lang, count(*) AS kept_docs, CAST(sum(n_chars) AS BIGINT) AS kept_chars
       |FROM exact_kept
       |WHERE doc_id NOT IN (SELECT doc_b FROM (
       |$pairsSub
       |) pairs)
       |GROUP BY lang""".stripMargin
  }

  // ------------------------------------------- p11 IVF-style ANN
  /** Approximate nearest neighbors via an IVF (inverted-file) coarse
    * quantizer — the third point on the ANN cost/recall curve after
    * p4's brute force and p8's LSH buckets: K=8 centroid vectors are
    * picked deterministically (smallest md5(vec_id) — a seedless
    * pseudorandom sample both engines compute identically; a real
    * deployment would run sampled k-means|| here), every vector is
    * assigned to its nearest centroid's cell, and a query probes only
    * its nprobe=2 nearest cells before exact-cosine ranking.
    *
    * At 100 TB: K grows to ~sqrt(N) cells and the corpus is written
    * bucketed/partitioned BY CELL, so a probe reads nprobe/K of the
    * data (partition pruning does the cell selection); the centroid
    * table stays broadcast-size, the assignment pass is one narrow
    * projection scan, and the N^2 pair space never materializes.
    * Recall tuning = raise nprobe, at linear probe cost. */
  /** The K=8 centroid set collapsed to ONE single-row array — the
    * broadcastable quantizer. */
  private def p11CentsArr(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(md5(col("vec_id").cast("string")).as("r"), col("embedding").as("ce"))
      .orderBy(col("r")).limit(8)
      .select(row_number().over(Window.orderBy(col("r"))).as("cent_id"), col("ce"))
      .agg(array_sort(collect_list(struct(col("cent_id"), col("ce")))).as("ca"))

  /** Centroid ranking for one row: all 8 (cosine, -cent_id) pairs,
    * best first. Struct ordering does the argmax — max of
    * (ccos, -cent_id) = highest cosine, ties to the smallest cent_id,
    * exactly a window's (ccos DESC, cent_id) without the window. */
  private def p11Ranked: Column = reverse(array_sort(transform(col("ca"),
    c => struct(ncos(col("embedding"), c.getField("ce")).as("ccos"),
      (-c.getField("cent_id")).as("nid")))))

  /** Cell assignment as a NARROW projection: one broadcast single-row
    * centroid array + a per-row argmax — ZERO exchanges on the corpus
    * (the previous form crossJoin-exploded 8 rows per vector and paid
    * a full-corpus Exchange+Sort under Window.partitionBy(vec_id)).
    * This is also the table a deployment writes partitioned BY CELL so
    * probes partition-prune (ScaleSpec proves the pruned-probe plan). */
  private[graft] def p11Cells(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").crossJoin(broadcast(p11CentsArr(s, dir)))
      .select(col("vec_id"), col("embedding"),
        (-p11Ranked.getItem(0).getField("nid")).as("cell"))

  def p11(s: SparkSession, dir: String): DataFrame = {
    val cells = p11Cells(s, dir)
    val probes = t(s, dir, "embeddings").filter(col("vec_id") < 10)
      .crossJoin(broadcast(p11CentsArr(s, dir)))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(slice(p11Ranked, 1, 2)).as("p")) // nprobe = 2
      .select(col("qid"), col("qe"), (-col("p.nid")).as("pcell"))
    // probes is query-count-sized → broadcast it; the corpus side
    // (cells) never shuffles for the probe join either.
    val scored = cells
      .join(broadcast(probes), col("cell") === col("pcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), ncos(col("qe"), col("embedding")).as("cos"))
    val topk = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(topk))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"), col("cos"))
  }

  val p11Sql: String =
    """WITH cents AS (
      |  SELECT row_number() OVER (ORDER BY r) AS cent_id, ce FROM (
      |    SELECT md5(CAST(vec_id AS VARCHAR)) AS r, embedding AS ce
      |    FROM embeddings ORDER BY r LIMIT 8) c),
      |assign AS (
      |  SELECT e.vec_id, e.embedding, c.cent_id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(c.ce[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE))))) AS ccos
      |  FROM embeddings e, cents c),
      |cells AS (
      |  SELECT vec_id, embedding, cent_id AS cell FROM (
      |    SELECT vec_id, embedding, cent_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn
      |    FROM assign) a WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS qid, embedding AS qe, cent_id AS pcell FROM (
      |    SELECT vec_id, embedding, cent_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn
      |    FROM assign WHERE vec_id < 10) p WHERE rn <= 2),
      |scored AS (
      |  SELECT qid, c.vec_id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> CAST(qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))) AS cos
      |  FROM probes JOIN cells c ON c.cell = pcell AND c.vec_id <> qid)
      |SELECT qid, vec_id, cos FROM (
      |  SELECT qid, vec_id, cos,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
      |  FROM scored) r
      |WHERE rn <= 3""".stripMargin

  // ------------------------------------ p10 writer sink in the gate
  /** Writer sink under the oracle gate (reference
    * `TableWriterOperator.java:1` / `TableFinishOperator.java:1`): the
    * curated corpus is WRITTEN to parquet partitioned by lang, read
    * back, and aggregated — the oracle computes the same aggregate
    * from the source directly, so a lossy or non-atomic write breaks
    * the hash match. Partitioned layout is the 100 TB shape: one
    * directory per lang, append-able, partition-prunable. */
  def p10(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_sink/p10_${dir.replaceAll("[^a-z0-9.]", "_")}"
    t(s, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 20)
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    Graft.readParquet(s, out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_chars")).cast("long").as("chars"),
        countDistinct(md5(col("text"))).as("distinct_texts"))
  }

  val p10Sql: String =
    """SELECT lang, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars,
      |  count(DISTINCT md5(text)) AS distinct_texts
      |FROM documents WHERE len(string_split(text, ' ')) >= 20
      |GROUP BY lang""".stripMargin

  // ------------------------------ p15 orc/csv/json format round-trip
  /** Non-parquet format coverage under the oracle gate (SURVEY §2.1
    * "other formats" — reference `lib/trino-orc`,
    * `lib/trino-hive-formats`): customer key columns are written to
    * ORC, JSON-lines, and CSV sinks, read back through each reader
    * with the original schema, and aggregated per format. Lossless
    * round-trips make the three rows identical, which is exactly what
    * the oracle asserts by computing the same aggregate once from the
    * source-of-truth parquet and fanning it across the format labels —
    * a corrupted write, a reader type drift, or a dropped row in ANY
    * of the three formats breaks the hash. Only exactly-representable
    * types cross the text formats (bigint + string), so the compare
    * is bit-exact by construction. */
  def p15(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_name"),
        col("c_mktsegment"))
    val base = s"/tmp/graft_sink/p15_${dir.replaceAll("[^a-z0-9.]", "_")}_${srcTag(dir, "customer")}"
    Seq("orc", "json", "csv").map { fmt =>
      val path = s"$base/$fmt"
      src.write.format(fmt).option("header", "true").mode("overwrite").save(path)
      s.read.format(fmt).option("header", "true").schema(src.schema).load(path)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("c_custkey")).cast("long").as("key_sum"),
          countDistinct(md5(concat_ws("|", col("c_name"), col("c_mktsegment"))))
            .as("distinct_rows"),
          sum(col("c_nationkey")).cast("long").as("nation_sum"))
        .withColumn("fmt", lit(fmt))
    }.reduce(_ unionAll _)
  }

  val p15Sql: String =
    """WITH agg AS (
      |  SELECT count(*) AS n_rows, CAST(sum(c_custkey) AS BIGINT) AS key_sum,
      |    count(DISTINCT md5(c_name || '|' || c_mktsegment)) AS distinct_rows,
      |    CAST(sum(c_nationkey) AS BIGINT) AS nation_sum
      |  FROM customer)
      |SELECT f.fmt, a.n_rows, a.key_sum, a.distinct_rows, a.nation_sum
      |FROM (VALUES ('orc'), ('json'), ('csv')) AS f(fmt) CROSS JOIN agg a""".stripMargin

  // ------------------------------------ p12 dynamic partition pruning
  /** Dynamic partition pruning over a partitioned fact (reference
    * capability: `operator/DynamicFilterSourceOperator.java:1` — the
    * runtime dynamic-filtering path): the textbook star shape — the
    * fact side is a customer copy partitioned by c_nationkey, the
    * dimension is nation under a selective literal predicate
    * (n_regionkey = 2, 5 of 25 nations), joined on the partition
    * column. The broadcast join lets Spark inject a
    * DynamicPruningSubquery into the fact scan's PartitionFilters, so
    * the 20 non-qualifying nation partitions are never read — Spark
    * cannot know the qualifying nations statically, only the runtime
    * filter can. At 100 TB this is the difference between scanning
    * one region's shard and scanning the fact table. ScaleSpec
    * asserts `dynamicpruning` in this plan. */
  def p12(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_sink/p12_${dir.replaceAll("[^a-z0-9.]", "_")}_${srcTag(dir, "customer")}"
    // The fixture write is setup, not the operator under test (that's
    // the DPP join below) — do it once per sf dir so repeated bench
    // iterations time the pruned scan + join, not a parquet rewrite.
    // The srcTag in the path fingerprints the source files (mtime+size),
    // so regenerating /root/testdata in place can't serve stale parquet.
    if (!new java.io.File(out, "_SUCCESS").exists())
      t(s, dir, "customer")
        .write.mode("overwrite").partitionBy("c_nationkey").parquet(out)
    val fact = Graft.readParquet(s, out)
    val dim = broadcast(t(s, dir, "nation").filter(col("n_regionkey") === 2))
    fact.join(dim, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("custs"), xsum(col("c_acctbal")).as("bal"))
  }

  val p12Sql: String =
    """SELECT n_name, count(*) AS custs,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_regionkey = 2
      |GROUP BY n_name""".stripMargin

  // ---------------------------- p13 winnowing fingerprint candidates
  /** Dedup-candidate buckets from [[graft.functions.RollingFingerprint]]
    * (winnowing-style bottom-k of Rabin-Karp k-gram hashes, k=8 top=4):
    * docs sharing any fingerprint land in the same bucket, so candidate
    * generation is an equi-join-shaped shuffle on the 8-byte fingerprint
    * — the N² pair space never materializes, the same scale shape as
    * p3's MinHash-LSH but content-defined. The oracle reproduces the
    * exact hash values with list_reduce integer folds (every
    * intermediate < 2^63), gating the expression end-to-end. Text is
    * canonicalized to [a-z0-9 ] first so Spark's UTF-16 code units and
    * the oracle's code points agree by construction. */
  def p13(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", "").as("s"))
      .select(col("doc_id"), explode(expr("rolling_fingerprint(s, 8, 4)")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("docs"), min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi"))
      .filter(col("docs") >= 2)

  val p13Sql: String =
    """WITH cleaned AS (
      |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS s
      |  FROM documents
      |),
      |gram AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_transform(range(p, p+8), j -> CAST(unicode(substr(s, CAST(j AS INT), 1)) AS BIGINT)),
      |      (acc, c) -> (acc * 257 + c) % 1000000007
      |    ) AS fp
      |  FROM cleaned, LATERAL (SELECT unnest(range(1, CAST(len(s) AS BIGINT) - 8 + 2)) AS p) AS ps
      |  WHERE len(s) >= 8
      |),
      |bottomk AS (
      |  SELECT doc_id, fp FROM (
      |    SELECT doc_id, fp, row_number() OVER (PARTITION BY doc_id ORDER BY fp) AS rn
      |    FROM (SELECT DISTINCT doc_id, fp FROM gram)
      |  ) WHERE rn <= 4
      |)
      |SELECT fp, count(*) AS docs, min(doc_id) AS lo, max(doc_id) AS hi
      |FROM bottomk GROUP BY fp HAVING count(*) >= 2""".stripMargin

  // ------------------------------ p14 embedding-cosine near-dup pairs
  /** Near-duplicate detection on the embedding column: banded
    * sign-random-projection LSH buckets candidates, exact cosine ≥
    * `threshold` verifies them — the embedding-space analogue of p3's
    * MinHash banding. (bands, bits) are the standard S-curve tuning
    * knob; the default 8 bands × 16 sign bits gives 2^16 buckets per
    * band, so at large N the per-band candidate space Σ bucket² stays
    * ~N²/2^16 per band — never the N² a coarse (4-bit) banding
    * degenerates to. ScaleSpec asserts both the equi-join shape and a
    * max bucket-width bound on the fixture.
    *
    * The raw testdata embeddings are isotropic-random (max pairwise
    * cosine ≈ 0.6 — no planted duplicates), so the corpus under test
    * unions a deterministically perturbed copy of the first 200
    * vectors (element 0 nudged by +0.1, id offset by 1e6) — the same
    * construction, bit for bit, in the DuckDB oracle — giving real
    * near-dup pairs (cos ≈ 0.99) at the realistic 0.9 threshold.
    * Exact cosine and the banding projections run in the native
    * codegen dot kernels (functions/DotProduct.scala), not interpreted
    * lambdas. */
  def p14(s: SparkSession, dir: String,
          bands: Int = 8, bits: Int = 16,
          threshold: Double = 0.9): DataFrame = {
    require(bands >= 1, "bands must be >= 1")
    require(bits >= 8 && bits <= 30,
      s"bits/band must be in [8, 30] (got $bits): fewer than 8 sign bits " +
        "gives <=256 buckets/band and a quadratic candidate space at scale")
    val banded = p14Bands(s, dir, bands, bits)
    // Candidate generation joins IDS ONLY (r17): the banded exchange
    // carries (vec_id, band, bv) — 3 narrow columns — instead of the
    // full 64-float embedding on BOTH sides (the r16 shape's wide
    // exchange). Pairs dedup BEFORE the cosine (the same pair
    // collides in several bands), so each surviving pair computes
    // exactly one exact cosine after the embeddings re-attach via two
    // id-equi-joins against the corpus.
    val ids = banded.select(col("vec_id"), col("band"), col("bv"))
    val cand = ids.select(col("vec_id").as("va"), col("band"), col("bv"))
      .join(ids.select(col("vec_id").as("vb"), col("band").as("band_b"),
        col("bv").as("bv_b")),
        col("band") === col("band_b") && col("bv") === col("bv_b") &&
          col("va") < col("vb"))
      .select(col("va"), col("vb"))
      .distinct()
    val emb = p14Corpus(s, dir)
    cand
      .join(emb.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
      .join(emb.select(col("vec_id").as("vb"), col("embedding").as("eb")), "vb")
      .select(col("va"), col("vb"), ncos(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** The corpus p14 deduplicates: embeddings plus a deterministically
    * perturbed near-dup copy of the first 200 vectors. */
  private def p14Corpus(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val perturbed = base.filter(col("vec_id") < 200)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (v, i) =>
          when(i === 0, (v.cast("double") + lit(0.1)).cast("float"))
            .otherwise(v)).as("embedding"))
    base.unionByName(perturbed)
  }

  /** LSH band values for the p14 corpus: (vec_id, band, bv) with
    * `bands` bands of `bits` sign bits from md5-derived hyperplanes.
    * The planes are driver-computed literals (planeCoefs), so all
    * band values come out of ONE codegen'd projection + posexplode —
    * the former crossJoin-explode (×bands·bits rows) and the groupBy
    * whose exchange hash-partitioned on (vec_id, embedding, band)
    * (shipping ~`bands` copies of every 64-float embedding) are both
    * gone; the banded frame is 3 narrow columns end to end. Public so
    * ScaleSpec can assert the bucket-width distribution that keeps
    * the candidate join linear. */
  def p14Bands(s: SparkSession, dir: String, bands: Int, bits: Int): DataFrame = {
    val bandVals = (0 until bands).map(b =>
      bandValue(col("embedding"), firstPlane = b * bits, bits = bits))
    p14Corpus(s, dir)
      .select(col("vec_id"), posexplode(array(bandVals: _*)).as(Seq("band", "bv")))
      .select(col("vec_id"), col("band").cast("long").as("band"), col("bv"))
  }

  val p14Sql: String =
    """WITH planes AS (
      |  SELECT plane, list(coef ORDER BY dim) AS coefs FROM (
      |    SELECT p.plane, d.dim,
      |      CAST(CAST(('0x' || substring(md5(p.plane || ':' || d.dim), 1, 8)) AS BIGINT) % 1000 - 500 AS DOUBLE) AS coef
      |    FROM unnest(generate_series(0, 127)) AS p(plane),
      |         unnest(generate_series(1, 64)) AS d(dim)) c
      |  GROUP BY plane),
      |corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |    list_transform(generate_series(1, len(embedding)),
      |      i -> CASE WHEN i = 1
      |        THEN CAST(CAST(embedding[i] AS DOUBLE) + CAST(0.1 AS DOUBLE) AS FLOAT)
      |        ELSE embedding[i] END)
      |  FROM embeddings WHERE vec_id < 200),
      |banded AS (
      |  SELECT vec_id, embedding, plane // 16 AS band,
      |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64),
      |          i -> CAST(embedding[i] AS DOUBLE) * coefs[i])) > 0
      |        THEN (1 << CAST(plane % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS bv
      |  FROM corpus e, planes
      |  GROUP BY vec_id, embedding, plane // 16),
      |pairs AS (
      |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id)
      |SELECT va, vb, cos FROM pairs WHERE cos >= 0.9""".stripMargin

  // ---------------------------------------------- p16 language ID
  /** Character-n-gram language identification: each language has a
    * small weighted gram profile; a document's score per language is
    * Σ occurrences(gram) × length(gram) × weight — occurrences are
    * counted via the length-delta of a replace-all (exact integers,
    * identical in both engines), which inherently scales each hit by
    * the gram's length; longer (more distinctive) grams thus count
    * proportionally more, a deliberate weighting the profile weights
    * are calibrated against. The prediction is the argmax with a fixed
    * lexicographic tie-break (the CASE chain encodes it identically on
    * both sides). This is the standard Cavnar–Trenkle n-gram-profile
    * scheme reduced to a fixed profile table; real profiles are just a
    * bigger literal map, the plan shape is unchanged.
    *
    * At 100 TB this is a pure scan-side map (string kernels inside
    * whole-stage codegen, no UDF) followed by one small rollup on
    * (label, prediction) — the confusion-matrix aggregate; nothing but
    * 2-string keys and two longs ever shuffle. (The synthetic corpus
    * draws from one shared vocabulary, so the matrix is dense — the
    * operator, not the accuracy, is what's under test.) */
  private val langProfiles: Seq[(String, Seq[(String, Int)])] = Seq(
    "de" -> Seq("der" -> 4, "batch" -> 2, "merge" -> 1),
    "en" -> Seq("the " -> 3, "value" -> 2, "row" -> 1),
    "es" -> Seq("data" -> 3, "agg" -> 2, "sort" -> 1),
    "fr" -> Seq("le " -> 3, "query" -> 2, "join" -> 1))

  def p16(s: SparkSession, dir: String): DataFrame = {
    def occurrences(gram: String): Column =
      length(col("text")) - length(call_function("replace", col("text"), lit(gram)))
    val scoreCols = langProfiles.map { case (lang, grams) =>
      grams.map { case (g, w) => occurrences(g) * lit(w) }
        .reduce(_ + _).as(s"s_$lang")
    }
    val Seq(sDe, sEn, sEs, sFr) =
      Seq("s_de", "s_en", "s_es", "s_fr").map(col)
    t(s, dir, "documents")
      .select(col("lang") +: scoreCols: _*)
      .select(col("lang"),
        when(sDe >= sEn && sDe >= sEs && sDe >= sFr, "de")
          .when(sEn >= sEs && sEn >= sFr, "en")
          .when(sEs >= sFr, "es")
          .otherwise("fr").as("pred_lang"),
        greatest(sDe, sEn, sEs, sFr).as("best"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("best")).cast("long").as("sum_score"))
  }

  val p16Sql: String = {
    def occ(g: String) = s"(length(text) - length(replace(text, '$g', '')))"
    def score(grams: Seq[(String, Int)]) =
      grams.map { case (g, w) => s"${occ(g)} * $w" }.mkString(" + ")
    val profs = langProfiles.toMap
    s"""WITH scored AS (
       |  SELECT lang,
       |    ${score(profs("de"))} AS s_de,
       |    ${score(profs("en"))} AS s_en,
       |    ${score(profs("es"))} AS s_es,
       |    ${score(profs("fr"))} AS s_fr
       |  FROM documents)
       |SELECT lang, pred_lang, count(*) AS n_docs, CAST(sum(best) AS BIGINT) AS sum_score
       |FROM (
       |  SELECT lang,
       |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |         WHEN s_es >= s_fr THEN 'es'
       |         ELSE 'fr' END AS pred_lang,
       |    greatest(s_de, s_en, s_es, s_fr) AS best
       |  FROM scored)
       |GROUP BY lang, pred_lang""".stripMargin
  }

  // ------------------------------------ p17 n-gram Jaccard near-dup
  /** Near-duplicate detection by exact n-gram Jaccard over an inverted
    * index — the third dedup family next to MinHash (p3, probabilistic)
    * and winnowing fingerprints (p13, content-defined): word-bigram
    * sets, restricted to *discriminative* grams (document frequency ≤
    * 2% of the corpus — the standard stop-gram/prefix-filter move),
    * pair generation by self-join on the gram inverted index, exact
    * Jaccard = |A∩B| / (|A|+|B|−|A∩B|), rolled up into a pair-count
    * histogram by Jaccard decile.
    *
    * Scale design: the df cap is what keeps this linear. The cap is
    * `df ≤ least(0.02·N, RareGramDfCap)` — corpus-relative at small N
    * (so the query is meaningful on the fixture) but ABSOLUTE at
    * scale: without the `least`, a gram at the fractional cap owns a
    * posting list of 2% of the corpus (a 2×10^7-id collect_list array
    * in ONE group at 10^9 docs) and contributes (0.02·N)² candidate
    * pairs. With it, per-gram state is ≤ 1000 ids ≈ 8 KB regardless
    * of corpus size and pair space is O(#grams · K²) — rare-gram df
    * is O(1) in a real corpus, so in practice O(corpus). Raw text
    * never shuffles — only (doc_id, gram) index entries; the final
    * histogram is ~10 rows. Division is a single IEEE op,
    * bit-identical across engines (see the module Determinism note). */
  /** Absolute posting-list bound for p17's inverted index: a kept
    * gram's document frequency never exceeds this, whatever the corpus
    * size (ScaleSpec asserts it on the materialized index). */
  val RareGramDfCap = 1000L

  def p17(s: SparkSession, dir: String): DataFrame =
    p17Histogram(p17Index(s, dir))

  /** The rare-gram inverted index (gram → sorted posting list), split
    * out so tests can assert the posting-list bound directly. */
  def p17Index(s: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    // The bigram extraction is the only pass that touches text, runs
    // in the compiled word_ngrams kernel (an interpreted
    // transform/element_at lambda chain here measured ~3 s per pass
    // over the fixture vs milliseconds compiled — the p14 dot-product
    // lesson applied to text), and runs exactly TWICE: once to count
    // document frequencies, once to build the rare-gram inverted
    // index. Everything downstream (sizes, pair generation, Jaccard)
    // derives from the index posting lists, whose length the df cap
    // bounds — the collect_list is applied only to grams already
    // proven rare, so per-gram state is ≤ 0.02·N ids, never a hot
    // gram's full posting list. (A naive kept⋈kept self-join
    // re-evaluates the extraction once per branch — 5 passes and 3×
    // the wall time.)
    val grams = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(
          call_function("word_ngrams", col("text"), lit(2)))).as("gram"))
    // docs with ≥ 2 words ≡ docs contributing ≥ 1 bigram — computable
    // without the extraction pass
    val nDocs = t(s, dir, "documents")
      .filter(size(w) >= 2).agg(count(lit(1)).as("n_docs"))
    val rare = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= least(lit(0.02) * col("n_docs"), lit(RareGramDfCap)))
      .select(col("gram"))
    grams.join(broadcast(rare), "gram")
      .groupBy(col("gram"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
  }

  private def p17Histogram(index: DataFrame): DataFrame = {
    val sizes = index.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val shared = index
      .select(explode(col("ds")).as("da"), col("ds"))
      .select(col("da"), explode(filter(col("ds"), d => d > col("da"))).as("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
    shared
      .join(sizes.select(col("doc_id").as("da"), col("sz").as("sza")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("sz").as("szb")), "db")
      .select(col("da"), col("db"),
        (col("inter").cast("double") / (col("sza") + col("szb") - col("inter"))).as("j"))
      .groupBy(floor(col("j") * 10).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"), max(col("j")).as("max_j"),
        min(col("da")).as("first_da"))
  }

  val p17Sql: String =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1] AS gram
      |  FROM words, LATERAL (SELECT unnest(range(1, CAST(len(w) AS BIGINT))) AS i) t
      |),
      |stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM grams),
      |kept AS (
      |  SELECT doc_id, gram FROM grams
      |  WHERE gram IN (SELECT gram FROM grams GROUP BY gram
      |                 HAVING count(*) <= least(0.02 * (SELECT n_docs FROM stats), 1000))
      |),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      |  FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |),
      |jac AS (
      |  SELECT da, db, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS j
      |  FROM shared JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
      |)
      |SELECT CAST(floor(j * 10) AS BIGINT) AS bucket, count(*) AS n_pairs,
      |  max(j) AS max_j, min(da) AS first_da
      |FROM jac GROUP BY 1""".stripMargin

  // ------------------------------------------------------------- exports
  // ------------------------------- p18 repetition quality metrics
  /** Repetition-based quality scoring — the "rep" filters a
    * training-data pipeline applies alongside length/punct ratios
    * (p5) before dedup: per document, the duplicate-word fraction,
    * duplicate-2-gram fraction, and the coverage of the single most
    * frequent 2-gram. One compiled word_ngrams extraction pass;
    * counts aggregate per (doc, gram) then per doc — partial/final
    * hash aggregation both times, per-key state bounded by a doc's
    * gram count, no arrays through aggregation buffers. Fractions are
    * exact-int over exact-int in one IEEE division, so the
    * cross-engine hash is stable. */
  def p18(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"), count(lit(1)).as("n_distinct_words"))
    val grams = docs
      .select(col("doc_id"),
        explode(call_function("word_ngrams", col("text"), lit(2))).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct_grams"),
        max(col("c")).as("top_cnt"))
    words.join(grams, "doc_id")
      .select(col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        (lit(1.0) - col("n_distinct_words").cast("double") / col("n_words"))
          .as("dup_word_frac"),
        (lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams"))
          .as("dup_2gram_frac"),
        (col("top_cnt").cast("double") / col("n_grams")).as("top_2gram_cov"))
  }

  val p18Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents WHERE doc_id < 200),
      |words AS (
      |  SELECT doc_id, unnest(w) AS w FROM toks),
      |wm AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |    count(DISTINCT w) AS n_distinct_words
      |  FROM words GROUP BY doc_id),
      |grams AS (
      |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS g
      |  FROM toks, unnest(generate_series(1, len(w) - 1)) AS u(i)),
      |gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
      |gm AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
      |    count(*) AS n_distinct_grams, max(c) AS top_cnt
      |  FROM gc GROUP BY doc_id)
      |SELECT doc_id, n_words,
      |  1.0 - CAST(n_distinct_words AS DOUBLE) / n_words AS dup_word_frac,
      |  1.0 - CAST(n_distinct_grams AS DOUBLE) / n_grams AS dup_2gram_frac,
      |  CAST(top_cnt AS DOUBLE) / n_grams AS top_2gram_cov
      |FROM wm JOIN gm USING (doc_id)""".stripMargin

  // ------------------------------- p19 training-sequence packing
  /** GPT-style concat-and-chunk sequence packing census: documents are
    * concatenated in deterministic order within a shard and the token
    * stream is cut into fixed 512-token training sequences; each doc
    * is attributed to the sequence where it STARTS, and docs whose
    * token span crosses a cut are counted as boundary (split) docs —
    * the numbers a pretraining pipeline reports to size its batch
    * plan and measure split loss.
    *
    * Scale shape: the only stateful step is one running sum per
    * (lang, shard) window partition. Shards are a deterministic
    * modulus of doc_id, so partition width is corpus_size/shards and
    * the shard count is the scale knob (8 here; one shard per input
    * split at 100 TB) — there is never a corpus-wide window. All
    * arithmetic is integral (`div`), so offsets stay exact far past
    * the 2^53 doubles cliff. */
  def p19(s: SparkSession, dir: String): DataFrame = {
    val cap = 512
    val toks = t(s, dir, "documents")
      .select(col("lang"), (col("doc_id") % 8).as("shard"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("off", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"off div $cap"))
      .withColumn("spans", expr(s"(off + n_tok - 1) div $cap") =!= col("seq_id"))
      .groupBy(col("lang"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("docs_started"),
        sum(col("n_tok")).as("tokens_started"),
        sum(when(col("spans"), 1L).otherwise(0L)).as("boundary_docs"),
        min(col("doc_id")).as("first_doc"))
  }

  val p19Sql: String =
    """WITH toks AS (
      |  SELECT lang, doc_id % 8 AS shard, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |packed AS (
      |  SELECT lang, shard, doc_id, n_tok,
      |    coalesce(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM toks)
      |SELECT lang, shard, CAST(off // 512 AS BIGINT) AS seq_id,
      |  count(*) AS docs_started,
      |  CAST(sum(n_tok) AS BIGINT) AS tokens_started,
      |  CAST(sum(CASE WHEN (off + n_tok - 1) // 512 <> off // 512
      |           THEN 1 ELSE 0 END) AS BIGINT) AS boundary_docs,
      |  min(doc_id) AS first_doc
      |FROM packed GROUP BY lang, shard, off // 512""".stripMargin

  // ------------------------------- p20 deterministic domain mixing
  /** Domain-mix sampling census: apply per-source target rates (the
    * "data mixture" weights of a pretraining recipe) with a
    * DETERMINISTIC keep rule — keep iff the md5-fraction of doc_id is
    * under the source's rate — so the sample is reproducible across
    * engines, runs, and retries (a `rand()` sample is none of those).
    * The fraction is the first 8 md5 hex chars scaled to [0,1); md5
    * hex is bit-identical in Spark and DuckDB, which is what lets the
    * oracle hash-gate the sampled counts exactly.
    *
    * Scale shape: pure scan-side map + one hash aggregate on the
    * low-cardinality source key; the keep decision needs no state and
    * no shuffle, so this composes scan-side with any downstream
    * pipeline stage. */
  def p20(s: SparkSession, dir: String): DataFrame = {
    val frac = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)
    val rate = when(col("source") === "src0", lit(1.0))
      .when(col("source") === "src1", lit(0.5))
      .when(col("source") === "src2", lit(0.25))
      .otherwise(lit(0.1))
    t(s, dir, "documents")
      .select(col("source"), col("n_chars"), (frac < rate).as("kept"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("chars_sampled"))
  }

  val p20Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |  CAST(sum(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS chars_sampled
      |FROM (
      |  SELECT source, n_chars,
      |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT)
      |      AS DOUBLE) / 4294967296.0 <
      |    (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
      |                 WHEN 'src2' THEN 0.25 ELSE 0.1 END) AS kept
      |  FROM documents)
      |GROUP BY source""".stripMargin

  // ------------------------------- p21 benchmark decontamination
  /** Train/eval contamination check — the decontamination pass a
    * pretraining pipeline runs so benchmark (eval) text does not leak
    * into the training corpus: for each eval document, the fraction
    * of its distinct word 5-grams that appear anywhere in the train
    * split, flagged contaminated past 50%. Distinct from pairwise
    * near-dup (p3/p17): the question is membership against the WHOLE
    * train corpus, not similarity between document pairs.
    *
    * Scale shape: the eval side is small by nature (benchmarks are
    * thousands of docs, the corpus is billions), so its gram set
    * broadcasts and the train corpus is ONE scan + explode +
    * broadcast semi-join + partial count — the 100 TB side never
    * shuffles on gram text, and no gram list is ever collected per
    * key (distinct gram pairs aggregate map-side). */
  def p21(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val evalGrams = docs.filter(col("doc_id") < 50)
      .select(col("doc_id").as("eval_id"),
        explode(array_distinct(
          call_function("word_ngrams", col("text"), lit(5)))).as("g"))
    val trainHits = docs.filter(col("doc_id") >= 50)
      .select(explode(array_distinct(
        call_function("word_ngrams", col("text"), lit(5)))).as("g"))
      .join(broadcast(evalGrams), "g")
      .select(col("eval_id"), col("g")).distinct()
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_hit"))
    evalGrams.groupBy(col("eval_id")).agg(count(lit(1)).as("n_grams"))
      .join(trainHits, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams"))
          .as("contam_frac"))
      .withColumn("contaminated", col("contam_frac") > 0.5)
  }

  val p21Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g
      |  FROM words, unnest(generate_series(1, len(w) - 4)) AS u(i)),
      |ev AS (SELECT doc_id AS eval_id, g FROM grams WHERE doc_id < 50),
      |tr AS (SELECT DISTINCT g FROM grams WHERE doc_id >= 50),
      |hits AS (
      |  SELECT eval_id, count(*) AS n_hit
      |  FROM (SELECT DISTINCT ev.eval_id, ev.g FROM ev JOIN tr USING (g))
      |  GROUP BY eval_id)
      |SELECT ev.eval_id, count(*) AS n_grams,
      |  coalesce(any_value(hits.n_hit), 0) AS n_contaminated,
      |  CAST(coalesce(any_value(hits.n_hit), 0) AS DOUBLE) / count(*) AS contam_frac,
      |  CAST(coalesce(any_value(hits.n_hit), 0) AS DOUBLE) / count(*) > 0.5 AS contaminated
      |FROM ev LEFT JOIN hits ON ev.eval_id = hits.eval_id
      |GROUP BY ev.eval_id""".stripMargin

  // ------------------------------- p22 near-dup cluster resolution
  /** The step a dedup pipeline needs BETWEEN candidate pairs and
    * deletion decisions: near-dup similarity (p3's ≥0.8 Jaccard
    * pairs) is not transitive, so pairwise output alone cannot decide
    * which docs to drop — pairs must first close into connected
    * components, then ONE keeper survives per component. Components
    * come from `Ops.connectedComponents` (iterative min-label
    * propagation, one key-partitioned shuffle per round, rounds =
    * component diameter — near-dup clusters are near-cliques, so 2–4);
    * the keeper is the longest doc (ties → smallest id) via one
    * window rank over the component key.
    *
    * Oracle: DuckDB recursive-CTE transitive closure over the same
    * pair set — a different algorithm (all-pairs reachability, fine
    * at oracle scale, quadratic at real scale) arriving at the same
    * component labeling, which is exactly what makes it an oracle
    * rather than a reimplementation. */
  def p22(s: SparkSession, dir: String): DataFrame = {
    val pairs = p3(s, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val cc = graft.operators.Ops.connectedComponents(pairs)
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val labeled = cc.join(docs, cc("vertex") === docs("doc_id"))
      .select(col("doc_id"), col("component").as("cluster_id"), col("n_chars"))
    val keepW = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    labeled
      .withColumn("rk", row_number().over(keepW))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("rk") === 1).as("is_keeper"))
  }

  val p22Sql: String =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(w) - 2),
      |    i -> array_to_string(w[i:i+2], ' '))) AS shingles
      |  FROM words),
      |mh AS (
      |  SELECT doc_id, list_transform(generate_series(1, 8),
      |    s -> list_min(list_transform(shingles, g -> md5(s || ':' || g)))) AS mhs
      |  FROM sh),
      |bands AS (
      |  SELECT doc_id, b.band,
      |    md5(mhs[b.band * 2 + 1] || '|' || mhs[b.band * 2 + 2]) AS bh
      |  FROM mh, unnest(generate_series(0, 3)) AS b(band)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id
      |  WHERE len(list_intersect(x.shingles, y.shingles))::DOUBLE
      |      / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.8),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION
      |  SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |lab AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      |  FROM reach GROUP BY src),
      |sized AS (
      |  SELECT l.doc_id, l.cluster_id,
      |    count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
      |    row_number() OVER (PARTITION BY l.cluster_id
      |      ORDER BY d.n_chars DESC, l.doc_id) AS rk
      |  FROM lab l JOIN documents d ON l.doc_id = d.doc_id)
      |SELECT doc_id, cluster_id, cluster_size, rk = 1 AS is_keeper
      |FROM sized""".stripMargin

  // ------------------------------- p23 PII scrub census
  /** The pre-training privacy pass: detect and redact
    * email / IPv4 / phone tokens, reporting per-source counts and how
    * many characters redaction removed. The corpus text is digit-free
    * word salad, so each doc deterministically embeds 0–2 emails, one
    * IP, and an every-other-doc phone number derived from its id —
    * the extraction logic sees data-dependent, non-constant counts
    * while staying exactly reproducible in the oracle.
    *
    * All three patterns use the regex subset Java and RE2 share (no
    * backrefs/lookaround), so Spark and the oracle engine extract
    * identical spans. At 100 TB this is one codegen scan (regexes are
    * per-row, no shuffle of text) + a partial/final rollup per source. */
  def p23(s: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
    val phone = "\\+1-555-\\d{4}"
    val blob = concat(
      substring(col("text"), 1, 80),
      repeat(
        concat(lit(" user"), (col("doc_id") % 97).cast("string"),
          lit("@"), col("source"), lit(".example.com")),
        3).substr(lit(1),
          // repeat() takes a literal in the DataFrame API only via
          // expr; emulate doc_id%3 repetitions by slicing the tripled
          // string to n*unit length
          ((col("doc_id") % 3) * length(concat(lit(" user"),
            (col("doc_id") % 97).cast("string"), lit("@"), col("source"),
            lit(".example.com")))).cast("int")),
      lit(" ip 10."), (col("doc_id") % 256).cast("string"),
      lit("."), ((col("doc_id") * 7) % 256).cast("string"),
      lit("."), ((col("doc_id") * 13) % 256).cast("string"),
      when(col("doc_id") % 2 === 0,
        concat(lit(" +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    val scrubbed = regexp_replace(
      regexp_replace(regexp_replace(blob, email, "[EMAIL]"), phone, "[PHONE]"),
      ip, "[IP]")
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"), blob.as("blob"), scrubbed.as("red"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(regexp_extract_all(col("blob"), lit(email), lit(0))))
          .as("n_emails"),
        sum(size(regexp_extract_all(col("blob"), lit(ip), lit(0))))
          .as("n_ips"),
        sum(size(regexp_extract_all(col("blob"), lit(phone), lit(0))))
          .as("n_phones"),
        sum(length(col("blob")) - length(col("red"))).as("chars_removed"))
  }

  val p23Sql: String =
    """WITH blobs AS (
      |  SELECT doc_id, source,
      |    substr(text, 1, 80)
      |    || substr(repeat(' user' || (doc_id % 97) || '@' || source || '.example.com', 3),
      |         1, CAST((doc_id % 3) * len(' user' || (doc_id % 97) || '@' || source || '.example.com') AS INTEGER))
      |    || ' ip 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.' || ((doc_id * 13) % 256)
      |    || CASE WHEN doc_id % 2 = 0 THEN ' +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
      |      AS blob
      |  FROM documents),
      |red AS (
      |  SELECT source, blob,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(blob, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |        '\+1-555-\d{4}', '[PHONE]', 'g'),
      |      '\b(\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g') AS r
      |  FROM blobs)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(blob, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
      |  CAST(sum(len(regexp_extract_all(blob, '\b(\d{1,3}\.){3}\d{1,3}\b'))) AS BIGINT) AS n_ips,
      |  CAST(sum(len(regexp_extract_all(blob, '\+1-555-\d{4}'))) AS BIGINT) AS n_phones,
      |  CAST(sum(len(blob) - len(r)) AS BIGINT) AS chars_removed
      |FROM red GROUP BY source""".stripMargin

  // ------------------------------- p24 product-quantization ANN
  /** The memory-bounded ANN path that completes the family (p4 brute
    * force, p8 SRP-LSH, p11 IVF): product quantization compresses each
    * 64-dim float vector to m=8 one-byte codes — at 100 TB the codes
    * table is 8 bytes/vector instead of 256, small enough to keep the
    * whole index in executor memory — and queries score by ASYMMETRIC
    * distance: a per-query lookup table of (subspace, centroid) →
    * exact subdistance, so the scan touches only codes, never raw
    * vectors. One broadcast of the m×k codebook, one broadcast of the
    * per-query LUT, zero shuffles of the embedding column after
    * encoding; top-k plans as WindowGroupLimit.
    *
    * Codebooks are deterministic (the md5-ordered first k vectors'
    * subvectors, the p11 centroid convention) so the oracle replays
    * encoding + ADC exactly; the 8 subspace distances are summed in
    * FIXED subspace order via a conditional-sum pivot, because a
    * groupBy double-sum's addition order is partitioning-dependent. */
  def p24(s: SparkSession, dir: String): DataFrame = {
    val m = 8 // subspaces of 8 dims each
    val k = 4 // centroids per subspace
    def l2sq(a: Column, b: Column): Column =
      expr(s"aggregate(zip_with(${a.toString}, ${b.toString}, " +
        "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * " +
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    val e = t(s, dir, "embeddings")
    val train = e
      .select(md5(col("vec_id").cast("string")).as("r"), col("embedding"))
      .orderBy(col("r")).limit(k)
      .select(row_number().over(Window.orderBy(col("r"))).as("cid"),
        col("embedding").as("ce"))
    val subs = explode(sequence(lit(0), lit(m - 1))).as("sub")
    val cb = train.select(col("cid"), col("ce"), subs)
      .select(col("sub"), col("cid"),
        slice(col("ce"), col("sub") * 8 + 1, lit(8)).as("cv"))
    val sliced = e.select(col("vec_id"), col("embedding"), subs)
      .select(col("vec_id"), col("sub"),
        slice(col("embedding"), col("sub") * 8 + 1, lit(8)).as("sv"))
    val nearest = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d2"), col("cid"))
    val codes = sliced.join(broadcast(cb), "sub")
      .withColumn("d2", l2sq(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(nearest))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("cid").as("code"))
    val lut = sliced.filter(col("vec_id") < 10)
      .join(broadcast(cb), "sub")
      .select(col("vec_id").as("qid"), col("sub").as("qsub"),
        col("cid").as("qcid"), l2sq(col("sv"), col("cv")).as("qd"))
    val adc = codes
      .join(broadcast(lut),
        col("sub") === col("qsub") && col("code") === col("qcid") &&
          col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(when(col("sub") === 0, col("qd"))).as("qd0"),
        (1 until m).map(i =>
          sum(when(col("sub") === i, col("qd"))).as(s"qd$i")): _*)
      .select(col("qid"), col("vec_id"),
        (0 until m).map(i => col(s"qd$i")).reduce(_ + _).as("adc_dist"))
    val topk = Window.partitionBy(col("qid"))
      .orderBy(col("adc_dist").asc, col("vec_id"))
    adc.withColumn("rn", row_number().over(topk))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"), col("adc_dist"))
  }

  val p24Sql: String =
    """WITH train AS (
      |  SELECT row_number() OVER (ORDER BY r) AS cid, ce FROM (
      |    SELECT md5(CAST(vec_id AS VARCHAR)) AS r, embedding AS ce
      |    FROM embeddings ORDER BY r LIMIT 4) t),
      |cb AS (
      |  SELECT s.sub, cid, ce[(s.sub * 8 + 1):(s.sub * 8 + 8)] AS cv
      |  FROM train, unnest(generate_series(0, 7)) AS s(sub)),
      |sliced AS (
      |  SELECT vec_id, s.sub, embedding[(s.sub * 8 + 1):(s.sub * 8 + 8)] AS sv
      |  FROM embeddings, unnest(generate_series(0, 7)) AS s(sub)),
      |scored AS (
      |  SELECT vec_id, sl.sub, cid,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (CAST(sv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
      |         * (CAST(sv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)))) AS d2
      |  FROM sliced sl JOIN cb ON cb.sub = sl.sub),
      |codes AS (
      |  SELECT vec_id, sub, cid AS code FROM (
      |    SELECT vec_id, sub, cid,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
      |    FROM scored) c WHERE rn = 1),
      |lut AS (
      |  SELECT vec_id AS qid, sub AS qsub, cid AS qcid, d2 AS qd
      |  FROM scored WHERE vec_id < 10),
      |adc AS (
      |  SELECT qid, vec_id,
      |    sum(CASE WHEN sub = 0 THEN qd END) + sum(CASE WHEN sub = 1 THEN qd END)
      |  + sum(CASE WHEN sub = 2 THEN qd END) + sum(CASE WHEN sub = 3 THEN qd END)
      |  + sum(CASE WHEN sub = 4 THEN qd END) + sum(CASE WHEN sub = 5 THEN qd END)
      |  + sum(CASE WHEN sub = 6 THEN qd END) + sum(CASE WHEN sub = 7 THEN qd END)
      |      AS adc_dist
      |  FROM codes JOIN lut ON sub = qsub AND code = qcid AND vec_id <> qid
      |  GROUP BY qid, vec_id)
      |SELECT qid, vec_id, adc_dist FROM (
      |  SELECT qid, vec_id, adc_dist,
      |    row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rn
      |  FROM adc) r
      |WHERE rn <= 3""".stripMargin

  // -------------------------- p25 hashed-token linear quality scorer
  /** fastText-style linear quality classifier census: every token
    * hashes to a deterministic md5-derived weight in [-500, 499]
    * (hash-the-feature IS the hashing-trick weight table — the
    * canonical way to ship a linear text classifier into a data
    * pipeline without a model artifact; a real model just replaces
    * the md5 arithmetic with a literal weight array, same plan), a
    * document's score is the SUM of its token weights (kept exact in
    * LONG space — no double accumulation, so the census is
    * bit-identical cross-engine and safe to re-aggregate at any
    * scale), and the census reports per source how many documents a
    * score>0 gate keeps plus the exact weight/token totals.
    *
    * At 100 TB this is a pure scan-side map (tokenize + fold inside
    * one projection — no token explode, no shuffle of text) followed
    * by a tiny per-source rollup: the same shape as p5/p16. */
  def p25(s: SparkSession, dir: String): DataFrame = {
    // ONE codegen'd tokenize+hash+fold pass per document
    // (functions/TokenWeightSum) — the interpreted
    // aggregate(filter(split(...)), acc + md5-weight) HOF chain it
    // replaces evaluated the lambda per token (the r18 3.7× constant
    // factor); values are bit-identical by the kernel's contract
    val scored = t(s, dir, "documents")
      .select(col("source"),
        call_function("token_weight_sum", col("text")).as("tw"))
      .select(col("source"),
        col("tw.w_sum").as("w_sum"), col("tw.n_tok").as("n_tok"))
    scored.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("w_sum") > 0, 1L).otherwise(0L)).cast("long").as("kept"),
      sum(col("w_sum")).cast("long").as("w_total"),
      sum(col("n_tok")).cast("long").as("tok_total"))
  }

  val p25Sql: String =
    """WITH scored AS (
      |  SELECT source,
      |    CAST(coalesce(list_sum(list_transform(
      |      list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''),
      |      t -> CAST(('0x' || substring(md5('w:' || t), 1, 8)) AS BIGINT) % 1000 - 500)), 0) AS BIGINT) AS w_sum,
      |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS BIGINT) AS n_tok
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(count_if(w_sum > 0) AS BIGINT) AS kept,
      |  CAST(sum(w_sum) AS BIGINT) AS w_total,
      |  CAST(sum(n_tok) AS BIGINT) AS tok_total
      |FROM scored GROUP BY source""".stripMargin

  // ------------------------------- p26 vocabulary builder (top-K)
  /** Corpus vocabulary census: global token frequencies, top-K by
    * (count DESC, token) — the tokenizer-training precursor every
    * text pipeline runs before fitting a BPE/WordPiece model. The
    * deterministic tie-break makes the top-K SET reproducible, so it
    * oracle-gates exactly.
    *
    * At 100 TB this is THE canonical heavy-shuffle text job and the
    * plan is the production shape: tokens explode scan-side, the
    * partial count combines map-side (the exchange carries (token,
    * partial-count) pairs — bounded by the VOCABULARY size per task,
    * not the token stream), one hash exchange on the token, and the
    * top-K runs as TakeOrdered (per-partition bounded heaps + a
    * driver merge of K rows per partition), never a global sort. */
  def p26(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val toks = t(s, dir, "documents").select(
      explode(filter(split(lower(col("text")), "[^a-z]+"), x => x =!= ""))
        .as("tok"))
    toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(k)
  }

  val p26Sql: String =
    """SELECT tok, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT unnest(list_filter(
      |        string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
      |      FROM documents) t
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 50""".stripMargin

  // ------------------------ p27 incremental dedup admission (bloom)
  /** Delta-ingestion exact-dedup census: a NEW batch of documents is
    * admitted against the EXISTING corpus's digest set — the shape
    * every continuously-ingesting training pipeline runs (admit the
    * shard's novel docs, reject digests the corpus already holds).
    *
    * 100 TB design: the corpus is scanned ONCE to build a compact
    * Bloom filter over its 16-byte digests (driver-held, ~1 MB at
    * fpp 3%, shipped in the task closure — never a shuffle); batch
    * rows the filter EXCLUDES are admitted immediately (Bloom has no
    * false negatives), and only the bloom-positive slice — dup rate ×
    * batch + 3% FPs — confirms against the corpus digests with an
    * exact join, so the expensive exact path touches a sliver of the
    * batch and the corpus text never shuffles (digests only, the
    * p1/p2 contract). Results are EXACT regardless of the filter's
    * false-positive rate; the oracle reproduces the admission with a
    * plain anti-join. The corpus/batch split uses moduli coprime to
    * the source stride (source = doc_id % 20), so every source gets
    * a deterministic mix of admitted and rejected rows. */
  def p27(s: SparkSession, dir: String): DataFrame = {
    // text IS NOT NULL on BOTH sides: a NULL text hashes to NULL,
    // which the Spark semi-join counts "admitted" while the oracle's
    // count_if(h [NOT] IN …) counts it NEITHER — filter up front so
    // the two sides agree (same posture as dx34's feed)
    val digests = t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val corpus = digests.filter(col("doc_id") % 7 < 5)
    val batch = digests.filter(col("doc_id") % 3 === 0)
    // Size the filter FROM THE DATA, not a constant — but from the
    // scan's PARQUET STATISTICS (optimizedPlan.stats), not a count()
    // job (r21, VERDICT #8: the sizing count was a whole extra pass
    // over the corpus per execution). bytes/64 over-estimates the doc
    // count by design (documents average far more than 64 bytes), and
    // an over-sized filter only wastes a few bits per absent item; the
    // cap (16M items ≈ 14 MiB at fpp .03) bounds the broadcast on a
    // 1000-executor cluster. PAST the cap the FP rate degrades
    // gracefully and results stay EXACT — every bloom-positive
    // confirms against the corpus digests, so a saturated filter only
    // degenerates to plain exact dedup.
    val srcBytes = t(s, dir, "documents")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    val bfItems = (srcBytes / 64).max(1024).min(16L * 1024 * 1024).toLong
    // Build + probe as Spark's own runtime-filter nodes (r21, VERDICT
    // #8): bloom_filter_agg in a scalar subquery (ONE distributed
    // aggregate job inside the query — no separate driver treeAggregate
    // job, no sizing count() job) probed by codegen'd might_contain
    // (no per-row UDF). Two fewer jobs per execution; admission
    // semantics unchanged (h is non-null here, and FPs still confirm
    // through the exact semi-join below).
    val maybe = batch.filter(org.apache.spark.sql.graft.RuntimeBloom
      .preFilter(corpus, col("h"), col("h"), bfItems, 0.03))
    val confirmed = maybe.join(corpus.select(col("h")), Seq("h"), "left_semi")
      .select(col("doc_id"))
    val verdicts = batch.join(confirmed.withColumn("dup", lit(1L)), Seq("doc_id"), "left")
    verdicts.groupBy(col("source")).agg(
      count(lit(1)).as("n_batch"),
      sum(when(col("dup").isNull, 1L).otherwise(0L)).cast("long").as("admitted"),
      sum(coalesce(col("dup"), lit(0L))).cast("long").as("rejected"))
  }

  val p27Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, md5(text) AS h FROM documents
      |  WHERE text IS NOT NULL),
      |corpus AS (SELECT h FROM d WHERE doc_id % 7 < 5),
      |batch AS (SELECT doc_id, source, h FROM d WHERE doc_id % 3 = 0)
      |SELECT source,
      |  count(*) AS n_batch,
      |  CAST(count_if(h NOT IN (SELECT h FROM corpus)) AS BIGINT) AS admitted,
      |  CAST(count_if(h IN (SELECT h FROM corpus)) AS BIGINT) AS rejected
      |FROM batch GROUP BY source""".stripMargin

  // ------------------------------- p28 BPE pair-merge (tokenizer)
  /** BPE tokenizer-training core on top of p26's vocabulary builder:
    * k rounds of count-adjacent-pairs → pick the global top pair
    * (deterministic tie-break: count DESC, then pair lexicographic) →
    * merge it corpus-wide, emitting the merge table `(merge_round,
    * lhs, rhs, cnt)` — the artifact a BPE trainer persists.
    *
    * 100 TB design: the corpus is scanned ONCE for the word-frequency
    * relation; every BPE round then runs over the VOCABULARY relation
    * (distinct words — bounded by language, not corpus size), so the
    * per-round cost is a vocab-sized pair-count aggregate (map-side
    * partial → one bounded exchange → TakeOrdered(1)) plus a
    * codegen'd per-row fold for the merge. The only driver traffic is
    * ONE row per round (the chosen pair). Words are separator-joined
    * token strings (U+001F never occurs in [a-z] tokens); the merge
    * is a left-to-right `aggregate` fold with a boundary-guarded
    * endswith, which reproduces exact greedy BPE on adjacent repeats
    * (`abab` + pair (ab,ab) merges once per non-overlapping
    * occurrence) — validated against an independent reference
    * implementation. For large k, re-materialize the vocab
    * periodically (localCheckpoint) to bound lineage; k=4 here. */
  private val p28Sep = "\u001f"
  private def p28Toks: Column =
    filter(split(col("s"), java.util.regex.Pattern.quote(p28Sep)),
      x => x =!= "")

  /** The initial vocabulary relation: distinct word -> count, words as
    * separator-joined character strings. ONE corpus scan. */
  private[graft] def p28Vocab0(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(explode(filter(split(lower(col("text")), "[^a-z]+"),
        x => x =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("n"))
      .select(
        concat(lit(p28Sep), regexp_replace(col("w"), "(.)", "$1" + p28Sep))
          .as("s"),
        col("n"))

  /** One round's adjacent-pair counts over the vocab relation --
    * map-side partial sums collapse each task to its distinct pairs
    * before the single bounded exchange. */
  private[graft] def p28Pairs(vocab: DataFrame): DataFrame =
    vocab
      .select(col("n"), p28Toks.as("toks"))
      .select(col("n"), explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1))).as("p"))
      .select(col("p.0").as("lhs"), col("p.1").as("rhs"), col("n"))
      .groupBy(col("lhs"), col("rhs")).agg(sum(col("n")).as("cnt"))

  def p28(s: SparkSession, dir: String, rounds: Int = 4): DataFrame = {
    // LAZY-checkpoint the initial vocabulary too (r20): without it the
    // corpus scan + word-count shuffle execute TWICE — once inside
    // round 1's pair-count job and once more when round 2's job
    // materializes the round-1 merge checkpoint (whose lineage still
    // reaches back to the documents scan). With it, round 1's
    // pair-count doubles as the vocab materialization and the corpus
    // is read exactly once per p28 execution — the invariant the
    // scaladoc promises, now true by construction.
    var vocab = p28Vocab0(s, dir).localCheckpoint(eager = false)
    val out = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to rounds) {
      val best = p28Pairs(vocab)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect().head // ONE row per round reaches the driver
      val (a, b) = (best.getString(0), best.getString(1))
      out += ((r.toLong, a, b, best.getLong(2)))
      // checkpoint the merged vocab per round (LAZY localCheckpoint:
      // it materializes inside the next round's pair-count job, no
      // extra job of its own): without it round k
      // recomputes the word count + all k-1 earlier merge folds
      // (O(k^2/2) lineage re-execution); with it each round costs
      // ONE pair-count job whose scan doubles as the merge pass —
      // the bound that holds at 100 TB vocab cardinality too
      vocab = vocab.select(
        aggregate(p28Toks, lit(""), (acc, x) =>
          when(endswith(acc, lit(p28Sep + a)) && (x === lit(b)),
            concat(acc, x))
            .otherwise(concat(acc, lit(p28Sep), x))).as("s"),
        col("n")).localCheckpoint(eager = false)
    }
    import s.implicits._
    out.result().toDF("merge_round", "lhs", "rhs", "cnt")
  }

  val p28Sql: String = {
    val sep = "chr(31)"
    def pairs(i: Int) =
      s"""p$i AS (
         |  SELECT toks[i] AS lhs, toks[i+1] AS rhs, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM (SELECT list_filter(string_split(s, $sep), x -> x <> '') AS toks, n FROM v${i - 1}) t,
         |       LATERAL (SELECT unnest(generate_series(1, len(toks)-1)) AS i) g
         |  GROUP BY 1, 2),
         |b$i AS (SELECT lhs, rhs, cnt FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1)""".stripMargin
    def merge(i: Int) =
      s"""v$i AS (
         |  SELECT list_reduce(list_prepend('', list_filter(string_split(s, $sep), x -> x <> '')),
         |    (acc, x) -> CASE WHEN ends_with(acc, $sep || b$i.lhs) AND x = b$i.rhs
         |                     THEN acc || x ELSE acc || $sep || x END) AS s, n
         |  FROM v${i - 1}, b$i)""".stripMargin
    s"""WITH words AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS w
       |    FROM documents WHERE text IS NOT NULL) GROUP BY w),
       |v0 AS (SELECT $sep || regexp_replace(w, '(.)', '\\1' || $sep, 'g') AS s, n FROM words),
       |""".stripMargin +
      (Seq(pairs(1)) ++ (1 to 3).flatMap(i => Seq(merge(i), pairs(i + 1))))
        .mkString(",\n") +
      """
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS merge_round, lhs, rhs, cnt FROM b1
        |  UNION ALL SELECT 2, lhs, rhs, cnt FROM b2
        |  UNION ALL SELECT 3, lhs, rhs, cnt FROM b3
        |  UNION ALL SELECT 4, lhs, rhs, cnt FROM b4)
        |ORDER BY merge_round""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p28_bpe_merges" -> ((s: SparkSession, dir: String) => p28(s, dir)),
    "p27_incremental_dedup" -> p27 _,
    "p26_vocab_topk" -> ((s: SparkSession, dir: String) => p26(s, dir)),
    "p25_quality_scorer" -> p25 _,
    "p1_exact_dedup" -> p1 _,
    "p2_dedup_keeper" -> p2 _,
    "p3_minhash_lsh" -> p3 _,
    "p4_cosine_topk" -> p4 _,
    "p5_text_stats" -> p5 _,
    "p6_token_stats" -> p6 _,
    "p7_json_props" -> p7 _,
    "p8_ann_lsh" -> p8 _,
    "p9_corpus_pipeline" -> p9 _,
    "p10_write_roundtrip" -> p10 _,
    "p11_ann_ivf" -> p11 _,
    "p12_dpp" -> p12 _,
    "p13_fingerprint_buckets" -> p13 _,
    "p14_embedding_neardup" -> ((s, d) => p14(s, d)),
    "p15_format_roundtrip" -> p15 _,
    "p16_langid" -> p16 _,
    "p17_ngram_jaccard" -> p17 _,
    "p18_repetition_metrics" -> p18 _,
    "p19_sequence_packing" -> p19 _,
    "p20_domain_mix" -> p20 _,
    "p21_decontamination" -> p21 _,
    "p22_neardup_clusters" -> p22 _,
    "p23_pii_scrub" -> p23 _,
    "p24_ann_pq" -> p24 _)

  val oracle: Map[String, String] = Map(
    "p28_bpe_merges" -> p28Sql,
    "p27_incremental_dedup" -> p27Sql,
    "p26_vocab_topk" -> p26Sql,
    "p25_quality_scorer" -> p25Sql,
    "p1_exact_dedup" -> p1Sql,
    "p2_dedup_keeper" -> p2Sql,
    "p3_minhash_lsh" -> p3Sql,
    "p4_cosine_topk" -> p4Sql,
    "p5_text_stats" -> p5Sql,
    "p6_token_stats" -> p6Sql,
    "p7_json_props" -> p7Sql,
    "p8_ann_lsh" -> p8Sql,
    "p9_corpus_pipeline" -> p9Sql,
    "p10_write_roundtrip" -> p10Sql,
    "p11_ann_ivf" -> p11Sql,
    "p12_dpp" -> p12Sql,
    "p13_fingerprint_buckets" -> p13Sql,
    "p14_embedding_neardup" -> p14Sql,
    "p15_format_roundtrip" -> p15Sql,
    "p16_langid" -> p16Sql,
    "p17_ngram_jaccard" -> p17Sql,
    "p18_repetition_metrics" -> p18Sql,
    "p19_sequence_packing" -> p19Sql,
    "p20_domain_mix" -> p20Sql,
    "p21_decontamination" -> p21Sql,
    "p22_neardup_clusters" -> p22Sql,
    "p23_pii_scrub" -> p23Sql,
    "p24_ann_pq" -> p24Sql)
}

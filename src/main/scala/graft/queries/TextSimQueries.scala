package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheRegistry.QueryCached
import graft.dedup.{MinHash, NgramJaccard, SimHash}
import graft.olap.Exact
import graft.similarity.Similarity
import graft.text.TextAnalysis
import Shared._

/** Text analysis, dedup, similarity and embedding families — one `Query` record per
  * query, its DuckDB oracle next to its Spark closure; SparkEntry
  * concatenates the family Seqs into `queries`/`oracleSql`.
  */
object TextSimQueries {

  /** Quantized (q20) dimension-correlation matrix of the embeddings
    * table, DRIVER-SIDE and dimension-bounded — the shared gram step of
    * `emb_power_iteration` and `emb_pca_deflation`. The corpus-sized
    * pass is one join-free codegen projection (every upper-triangle
    * product emitted per row; the only exchange carries ≤ d·(d+1)/2
    * partial-agg cells); entries are floor(corr·2²⁰) with loud guards
    * on empty input and zero-variance dimensions (floor(NaN) silently
    * coerces to 0L — a divergence the oracle's CAST would carry as NaN).
    * Returns (d, m) with m indexed 0..d (row/col 0 unused).
    */
  private def corrMatrixQ20(s: SparkSession, dir: String)
      : (Int, Array[Array[Long]]) = {
    val cellsDf = Tables.embeddings(s, dir)
      .select(expr("transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT))").as("qa"))
      // d²/2 products per row is the cpu-dense stage; the single-
      // row-group fixture scan runs it in 1 task — spread first (a
      // many-file production scan parallelizes itself)
      .repartition(s.sparkContext.defaultParallelism)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(qa)), i ->
             transform(sequence(i, size(qa)), j ->
               named_struct(
                 'i', CAST(i AS BIGINT), 'j', CAST(j AS BIGINT),
                 'p', element_at(qa, i) * element_at(qa, j),
                 'qi', element_at(qa, i)))))""")).as("c"))
      .select(col("c.i"), col("c.j"), col("c.p"), col("c.qi"))
      .groupBy("i", "j")
    val cells = Exact.boundedCollect(
      cellsDf.agg(count(lit(1)).as("n"), sum("p").as("sp"),
        sum("qi").as("sqi")),
      128 * 129 / 2, "power-iteration gram cells")
    require(cells.nonEmpty,
      "power iteration needs a non-empty embeddings corpus")
    val dimCount = cells.iterator.map(_.getLong(0)).max.toInt
    require(dimCount <= 128,
      s"power iteration collects a DIMENSION-bounded gram matrix; " +
        s"got $dimCount dims (${cells.length} cells)")
    val n = cells.head.getLong(2).toDouble // count(*) — same every cell
    val sArr = new Array[Double](dimCount + 1)  // s_i = Σ q_i
    val ssArr = new Array[Double](dimCount + 1) // ss_i = Σ q_i²
    for (r <- cells if r.getLong(0) == r.getLong(1)) {
      ssArr(r.getLong(0).toInt) = r.getLong(3).toDouble
      sArr(r.getLong(0).toInt) = r.getLong(4).toDouble
    }
    // quantized correlation, the exact IEEE chain the oracle spells
    // out (mul/div/sqrt/floor are correctly-rounded in both engines)
    val m = Array.fill(dimCount + 1, dimCount + 1)(0L)
    for (r <- cells) {
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      if (i == j) m(i)(i) = 1048576L
      else {
        val vi = n * ssArr(i) - sArr(i) * sArr(i)
        val vj = n * ssArr(j) - sArr(j) * sArr(j)
        require(vi > 0 && vj > 0,
          s"zero-variance embedding dimension (i=$i var=$vi, " +
            s"j=$j var=$vj): correlation undefined")
        val cq = math.floor((n * r.getLong(3).toDouble
          - sArr(i) * sArr(j))
          / (math.sqrt(vi) * math.sqrt(vj))
          * 1048576.0).toLong
        m(i)(j) = cq; m(j)(i) = cq
      }
    }
    (dimCount, m)
  }

  /** Three ±4096-lattice power-iteration rounds over a BigInt matrix —
    * exact arbitrary-precision arithmetic, so the deflated matrix's
    * ~1e24 entries never overflow; on plain q20 entries the values are
    * identical to the checked-Long fold in `emb_power_iteration`.
    * Renormalizes with explicit FLOOR division each round (truncation
    * would diverge from the oracle on negatives).
    */
  private def latticeIterate3(dim: Int,
                              m: Array[Array[BigInt]]): Array[BigInt] = {
    var v: Array[BigInt] = Array.fill(dim + 1)(BigInt(4096))
    for (_ <- 1 to 3) {
      val x = (0 to dim).map(i => (1 to dim).foldLeft(BigInt(0))((a, j)
        => a + m(i)(j) * v(j))).toArray
      val mx = (1 to dim).map(i => x(i).abs).max
      v = x.map { xi =>
        val p = xi * 4096
        val q = p / mx; val r = p - q * mx
        if (r.signum != 0 && (r.signum < 0) != (mx.signum < 0)) q - 1
        else q
      }
    }
    v
  }

  val all: Seq[Query] = Seq(
    // BPE merge-candidate table: adjacent pre-token pair frequencies
    // across the corpus — the count step of one BPE merge iteration.
    // One explode + partial-aggregable groupBy; top-k as ordered limit.
    Query("text_bpe_pair_counts", (s, dir) => {
      import graft.text.TextAnalysis.{asciiLower, asciiUpper}
      val pieces = regexp_extract_all(
        translate(col("text"), asciiUpper, asciiLower),
        lit("[a-z]+|[0-9]+|[.,;:!?()/_-]+"), lit(0))
      Tables.documents(s, dir)
        .withColumn("pieces", pieces)
        .select(explode(transform(
          slice(col("pieces"), lit(1),
                greatest(size(col("pieces")) - 1, lit(0))),
          (x, i) => concat_ws(" ", x, element_at(col("pieces"), i + 2))))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("pair").asc)
        .limit(50)
    },
      Some("""WITH t AS (SELECT doc_id,
                      regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+|[0-9]+|[.,;:!?()/_-]+') AS pieces
                    FROM documents)
         SELECT pair, count(*) AS freq FROM (
           SELECT unnest(list_transform(range(1, len(pieces)),
             i -> pieces[i] || ' ' || pieces[i + 1])) AS pair
           FROM t)
         GROUP BY 1 ORDER BY freq DESC, pair ASC LIMIT 50""")),

    // North-star dedup: exact duplicate groups by full content (hash-free —
    // group directly on the text; Spark hashes internally for the shuffle).
    Query("dedup_exact", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("text")
        .agg(min(col("doc_id")).as("keep_doc_id"),
             count(lit(1)).as("n_copies"))
        .select("keep_doc_id", "n_copies")
        .orderBy("keep_doc_id"),
      Some("""SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
         FROM documents GROUP BY text ORDER BY 1""")),

    // North-star dedup: normalization-then-exact — ASCII casefold +
    // whitespace collapse before grouping (catches trivially-reformatted
    // copies that byte-exact dedup misses; the cheap pass before MinHash).
    // The whitespace class is written out explicitly: Java \s and RE2 \s
    // disagree on vertical tab, so both engines get the same 6 characters.
    Query("dedup_normalized", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(trim(regexp_replace(
            translate(col("text"), TextAnalysis.asciiUpper,
              TextAnalysis.asciiLower),
            "[ \\t\\n\\r\\f\\x0B]+", " "))
          .as("norm_text"))
        .agg(min(col("doc_id")).as("keep_doc_id"),
             count(lit(1)).as("n_copies"))
        .select("keep_doc_id", "n_copies")
        .orderBy("keep_doc_id"),
      // explicit whitespace class (Java \s vs RE2 \s disagree on \x0B);
      // ASCII fold via translate, matching the engine's tokenizer contract
      Some("""SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
         FROM documents
         GROUP BY trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\r\f\x0B]+', ' ', 'g'))
         ORDER BY 1""")),

    // North-star quality filter (Gopher-style repetition signal): the
    // fraction of duplicate word-2-grams per document — templated /
    // boilerplate text scores high. Per-row projection, zero shuffle.
    Query("text_repetition", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          (size(TextAnalysis.tokens("text")) - 1)
            .cast("long").as("n_grams"),
          size(NgramJaccard.gram_hashes(col("text"), 2))
            .cast("long").as("n_distinct_grams"))
        .withColumn("dup_gram_ratio",
          when(col("n_grams") > 0,
            lit(1.0).cast("double") - col("n_distinct_grams").cast("double")
              / col("n_grams").cast("double")))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
             g AS (SELECT doc_id, CAST(len(th) - 1 AS BIGINT) AS n_grams,
                     CAST(len(list_distinct(list_transform(
                       generate_series(1, len(th) - 1), i ->
                         (th[i] * 31 + th[i+1]) % 2147483647)))
                       AS BIGINT) AS n_distinct_grams
                   FROM t)
         SELECT doc_id, n_grams, n_distinct_grams,
                CASE WHEN n_grams > 0
                     THEN CAST(1.0 AS DOUBLE)
                          - CAST(n_distinct_grams AS DOUBLE)
                            / CAST(n_grams AS DOUBLE) END AS dup_gram_ratio
         FROM g ORDER BY doc_id""")),

    // IR: inverted-index build — token -> posting statistics (document
    // frequency, total term frequency, span, and an order-independent
    // postings checksum so the full posting list is verified without
    // emitting arrays). One explode + one partial-aggregable groupBy; at
    // 100 TB this is the standard index-build shuffle keyed by token.
    Query("text_inverted_index", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokens("text")).as(Seq("pos", "token")))
      toks.groupBy("token")
        .agg(countDistinct("doc_id").as("df"),
             count(lit(1)).as("total_tf"),
             min("doc_id").as("first_doc"),
             max("doc_id").as("last_doc"),
             sum((col("doc_id") * lit(131071L) + col("pos"))
               % lit(2147483647L)).as("postings_checksum"))
        .orderBy(col("total_tf").desc, col("token").asc)
        .limit(100)
    },
      Some("""WITH t AS (SELECT doc_id,
                      regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS toks
                    FROM documents),
              p AS (SELECT doc_id, i - 1 AS pos, toks[i] AS token
                    FROM t, unnest(generate_series(1, len(toks))) AS u(i))
         SELECT token, count(DISTINCT doc_id) AS df, count(*) AS total_tf,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc,
                CAST(sum((doc_id * 131071 + pos) % 2147483647) AS BIGINT)
                  AS postings_checksum
         FROM p GROUP BY 1 ORDER BY total_tf DESC, token ASC LIMIT 100""")),

    // Matryoshka-style prefix-dimension retrieval QA: does the top-1
    // neighbor under the first-16-dims cosine agree with the full-dim
    // top-1? The MRL question every embedding-truncation rollout asks.
    // Broadcast query set × corpus scan (the sim_bruteforce shape), both
    // argmaxes as partial-aggregable max_by with (cosine, −vec_id) ties —
    // no windows over the corpus.
    Query("emb_matryoshka_agreement", (s, dir) => {
      import graft.functions.VecOps
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val c = emb.filter(col("vec_id") >= 8)
        .select(col("vec_id"), col("embedding").as("e"))
      val qp = slice(col("qe"), 1, 16)
      val ep = slice(col("e"), 1, 16)
      c.crossJoin(broadcast(q))
        .select(col("q_id"), col("vec_id"),
          VecOps.cosine(col("qe"), col("e")).as("cos_full"),
          (VecOps.dot(qp, ep)
            / (sqrt(VecOps.dot(qp, qp)) * sqrt(VecOps.dot(ep, ep))))
            .as("cos_pre"))
        .groupBy("q_id")
        .agg(
          max_by(col("vec_id"), struct(col("cos_full"), negate(col("vec_id"))))
            .as("top1_full"),
          max_by(col("vec_id"), struct(col("cos_pre"), negate(col("vec_id"))))
            .as("top1_prefix"))
        .select(col("q_id"), col("top1_full"), col("top1_prefix"),
                (col("top1_full") === col("top1_prefix")).as("agree"))
        .orderBy("q_id")
    },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe
                     FROM embeddings WHERE vec_id < 8),
              c AS (SELECT vec_id, embedding AS e
                    FROM embeddings WHERE vec_id >= 8),
              s AS (SELECT q.q_id, c.vec_id,
                      ${duckDot("qe", "e")}
                        / (sqrt(${duckDot("qe", "qe")})
                           * sqrt(${duckDot("e", "e")})) AS cos_full,
                      ${duckDotSub("qe", "e", "0")}
                        / (sqrt(${duckDotSub("qe", "qe", "0")})
                           * sqrt(${duckDotSub("e", "e", "0")})) AS cos_pre
                    FROM q, c),
              f AS (SELECT q_id, vec_id FROM
                      (SELECT q_id, vec_id, row_number() OVER
                         (PARTITION BY q_id
                          ORDER BY cos_full DESC, vec_id ASC) AS rn
                       FROM s) WHERE rn = 1),
              p AS (SELECT q_id, vec_id FROM
                      (SELECT q_id, vec_id, row_number() OVER
                         (PARTITION BY q_id
                          ORDER BY cos_pre DESC, vec_id ASC) AS rn
                       FROM s) WHERE rn = 1)
         SELECT f.q_id, f.vec_id AS top1_full, p.vec_id AS top1_prefix,
                f.vec_id = p.vec_id AS agree
         FROM f JOIN p ON p.q_id = f.q_id
         ORDER BY f.q_id""")),

    // Embedding drift monitor: L2 distance between per-language centroids
    // of two corpus halves (doc-id parity split) — the "did my embedding
    // distribution move" check a pipeline runs between snapshots. All
    // arithmetic is exact until one final sqrt: quantized BIGINT sums per
    // (lang, dim), the mean difference cross-multiplied to the common
    // denominator (s1·n2 − s2·n1, squared in DECIMAL(38,0) so 64-dim sums
    // cannot overflow), one cast + sqrt + division at the end.
    Query("emb_centroid_drift", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .join(Tables.documents(s, dir)
          .select(col("doc_id").as("vec_id"), col("lang")), "vec_id")
      val dims = emb
        .select(col("lang"), (col("vec_id") % 2 === 0).as("h1"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("lang"), col("h1"), col("i"),
          floor(col("x").cast("double") * lit(65536.0)).cast("long")
            .as("q"))
      val perDim = dims.groupBy("lang", "i")
        .agg(sum(when(col("h1"), col("q")).otherwise(0L)).as("s1"),
             sum(when(!col("h1"), col("q")).otherwise(0L)).as("s2"),
             sum(when(col("h1"), 1L).otherwise(0L)).as("n1"),
             sum(when(!col("h1"), 1L).otherwise(0L)).as("n2"))
        .withColumn("d",
          // cast BEFORE the cross-multiply: s1·n2 at corpus scale can
          // overflow BIGINT (Spark wraps silently; DuckDB's HUGEINT does
          // not) — the decimal(38,0) widening must wrap the operands,
          // mirroring the oracle's CAST(... AS HUGEINT) placement
          (col("s1").cast("decimal(38,0)") * col("n2").cast("decimal(38,0)")
            - col("s2").cast("decimal(38,0)")
              * col("n1").cast("decimal(38,0)")))
      perDim.groupBy("lang")
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
             sum(col("d") * col("d")).as("sd2"))
        .select(col("lang"), col("n1"), col("n2"),
          (sqrt(col("sd2").cast("double"))
            / (col("n1") * col("n2")).cast("double")
            / lit(65536.0)).as("drift"))
        .orderBy("lang")
    },
      Some("""WITH base AS (SELECT em.vec_id, d.lang, em.embedding
                       FROM embeddings em
                       JOIN documents d ON d.doc_id = em.vec_id),
              dims AS (SELECT lang, vec_id % 2 = 0 AS h1,
                              unnest(generate_series(1, 64)) AS i,
                              embedding
                       FROM base),
              q AS (SELECT lang, h1, i,
                           CAST(floor(CAST(embedding[i] AS DOUBLE) * 65536)
                             AS BIGINT) AS q
                    FROM dims),
              pd AS (SELECT lang, i,
                       CAST(sum(CASE WHEN h1 THEN q ELSE 0 END) AS BIGINT)
                         AS s1,
                       CAST(sum(CASE WHEN NOT h1 THEN q ELSE 0 END)
                         AS BIGINT) AS s2,
                       CAST(sum(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT)
                         AS n1,
                       CAST(sum(CASE WHEN NOT h1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n2
                     FROM q GROUP BY 1, 2),
              dd AS (SELECT lang, n1, n2,
                            CAST(s1 * n2 - s2 * n1 AS HUGEINT) AS d
                     FROM pd),
              ag AS (SELECT lang, max(n1) AS n1, max(n2) AS n2,
                            sum(d * d) AS sd2
                     FROM dd GROUP BY 1)
         SELECT lang, n1, n2,
                sqrt(CAST(sd2 AS DOUBLE)) / CAST(n1 * n2 AS DOUBLE)
                  / CAST(65536 AS DOUBLE) AS drift
         FROM ag ORDER BY lang""")),

    // Embedding analytics: dimension-correlation matrix from one pass of
    // exact quantized sums (floor(x·2^16) — float→double→·2^16→floor are
    // all IEEE-exact, sums are BIGINT and order-independent), then a
    // fixed-order double formula per pair; sqrt is IEEE correctly-rounded,
    // so the correlations are bitwise-portable. Top-10 |corr| pairs. Pair
    // products come from a vec_id self-join of the exploded dims (64²
    // rows/vector, partial-aggregated map-side before the 2016-key
    // shuffle).
    Query("emb_dim_correlation", (s, dir) => {
      val dims = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding"))
          .as(Seq("p", "x")))
        .select(col("vec_id"), (col("p") + 1).cast("long").as("i"),
          floor(col("x").cast("double") * lit(65536.0)).as("q"))
      val stats = dims.groupBy("i")
        .agg(count(lit(1)).as("n"), sum("q").as("s"),
             sum(col("q") * col("q")).as("ss"))
      val a = dims.select(col("vec_id"), col("i"), col("q"))
      val b = dims.select(col("vec_id"), col("i").as("j"),
        col("q").as("qj"))
      val pairs = a.join(b, "vec_id").filter(col("i") < col("j"))
        .groupBy("i", "j").agg(sum(col("q") * col("qj")).as("sp"))
      val si = broadcast(stats.select(col("i"), col("n"),
        col("s").as("si"), col("ss").as("ssi")))
      val sj = broadcast(stats.select(col("i").as("j"),
        col("s").as("sj"), col("ss").as("ssj")))
      val nD = col("n").cast("double")
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      pairs.join(si, "i").join(sj, "j")
        .withColumn("corr",
          (nD * d(col("sp")) - d(col("si")) * d(col("sj")))
            / (sqrt(nD * d(col("ssi")) - d(col("si")) * d(col("si")))
               * sqrt(nD * d(col("ssj")) - d(col("sj")) * d(col("sj")))))
        .select(col("i").as("dim_i"), col("j").as("dim_j"), col("corr"),
          abs(col("corr")).as("corr_abs"))
        .orderBy(col("corr_abs").desc, col("dim_i"), col("dim_j"))
        .limit(10)
    },
      Some("""WITH dims AS (SELECT vec_id, i,
                        CAST(floor(CAST(embedding[i] AS DOUBLE) * 65536)
                          AS BIGINT) AS q
                      FROM (SELECT vec_id, embedding,
                              unnest(generate_series(1, 64)) AS i
                            FROM embeddings)),
              st AS (SELECT i, count(*) AS n, sum(q) AS s,
                       sum(q * q) AS ss
                     FROM dims GROUP BY 1),
              pr AS (SELECT a.i AS i, b.i AS j,
                       CAST(sum(a.q * b.q) AS BIGINT) AS sp
                     FROM dims a JOIN dims b ON a.vec_id = b.vec_id
                     WHERE a.i < b.i GROUP BY 1, 2),
              c AS (SELECT pr.i AS dim_i, pr.j AS dim_j,
                      (CAST(si.n AS DOUBLE) * CAST(sp AS DOUBLE)
                        - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE))
                      / (sqrt(CAST(si.n AS DOUBLE) * CAST(si.ss AS DOUBLE)
                              - CAST(si.s AS DOUBLE) * CAST(si.s AS DOUBLE))
                         * sqrt(CAST(si.n AS DOUBLE) * CAST(sj.ss AS DOUBLE)
                                - CAST(sj.s AS DOUBLE) * CAST(sj.s AS DOUBLE)))
                        AS corr
                    FROM pr JOIN st si ON pr.i = si.i
                            JOIN st sj ON pr.j = sj.i)
         SELECT dim_i, dim_j, corr, abs(corr) AS corr_abs
         FROM c ORDER BY corr_abs DESC, dim_i, dim_j LIMIT 10""")),

    // North-star decontamination: corpus documents sharing any word-5-gram
    // with a benchmark set (here: doc_id < 20 standing in for the eval
    // suite). Benchmark gram set broadcasts; the corpus side is one scan +
    // map-side semi-join — the standard eval-leak check at 100 TB.
    Query("text_contamination", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") < 20)
        .select(explode(NgramJaccard.gram_hashes(col("text"), 5))
          .as("gram")).distinct()
      docs.filter(col("doc_id") >= 20)
        .select(col("doc_id"),
          explode(NgramJaccard.gram_hashes(col("text"), 5)).as("gram"))
        .join(broadcast(bench), Seq("gram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_grams"))
        .orderBy("doc_id")
    },
      Some(s"""WITH t AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
             g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                     generate_series(1, len(th) - 4), i ->
                       ((((th[i] * 31 + th[i+1]) % 2147483647 * 31
                          + th[i+2]) % 2147483647 * 31
                          + th[i+3]) % 2147483647 * 31
                          + th[i+4]) % 2147483647))) AS gram
                   FROM t),
             bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
             corp AS (SELECT doc_id, gram FROM g WHERE doc_id >= 20)
         SELECT doc_id, count(*) AS n_shared_grams
         FROM corp JOIN bench USING (gram)
         GROUP BY 1 ORDER BY 1""")),

    // FUZZY decontamination — exact-gram overlap (text_contamination)
    // misses paraphrased/reformatted benchmark leakage; the production
    // pass (GPT-3 appendix C, PaLM, Llama) is near-dup matching between
    // corpus and benchmark. This is the CROSS-SET form of the LSH
    // candidate join: corpus bucket rows probe benchmark bucket rows on
    // (band, key) — never corpus×corpus — so the candidate volume is
    // bounded by the benchmark's bucket occupancy, and at 100 TB the
    // benchmark side is a broadcast-sized materialized band index.
    // est_jaccard = matching signature components / 16 (exact k/16
    // doubles on both engines).
    Query("text_contamination_fuzzy", (s, dir) => {
      val bk = MinHash.bucketFrame(Tables.documents(s, dir), "doc_id",
          "text", 16, 4)
        .tracked // corpus + benchmark sides slice one frame
      val isBench = col("doc_id") < 20
      bk.filter(!isBench).as("c")
        .join(bk.filter(isBench).as("b"),
          col("c.band") === col("b.band") && col("c.key") === col("b.key"))
        .select(col("c.doc_id").as("doc_id"),
          col("b.doc_id").as("bench_id"),
          (expr("size(filter(zip_with(c.sig, b.sig, (a, b) -> a = b)," +
              " x -> x))").cast("double") / lit(16.0)).as("est_jaccard"))
        .distinct() // multi-band collisions: one row per (doc, bench)
        .filter(col("est_jaccard") >= 0.5)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bench_hits"),
          max(col("est_jaccard")).as("max_jaccard"))
        .orderBy("doc_id")
    },
      // cross-set LSH: corpus bucket rows vs benchmark bucket rows on the
      // shared (band, key) CTE chain; est_jaccard is the exact k/16 double
      Some(s"""WITH $duckMinhashBkCtes,
          cand AS (SELECT DISTINCT c.doc_id AS doc_id,
                          b.doc_id AS bench_id,
                          CAST(len(list_filter(generate_series(1, 16),
                            i -> c.sig[i] = b.sig[i])) AS DOUBLE) / 16.0
                            AS est_jaccard
                   FROM bk c JOIN bk b
                     ON c.band = b.band AND c.key = b.key
                   WHERE c.doc_id >= 20 AND b.doc_id < 20)
          SELECT doc_id, count(*) AS n_bench_hits,
                 max(est_jaccard) AS max_jaccard
          FROM cand WHERE est_jaccard >= 0.5
          GROUP BY doc_id ORDER BY doc_id""")),

    // North-star text analysis: corpus vocabulary — token frequencies,
    // top-k (explode → count → distributed top-k).
    Query("text_vocab_topk", (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens("text")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(50),
      Some("""SELECT token, count(*) AS freq FROM (
           SELECT unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS token
           FROM documents)
         GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 50""")),

    // Zipf frequency spectrum: tokens bucketed by floor(log2(frequency))
    // (exact bit-length — the engine's portable log2), with the corpus'
    // Zipf exponent proxied by an exact-integer OLS slope over
    // (bucket, floor(log2(tokens in bucket))). The spectrum formulation
    // needs NO global rank — a per-token rank is a vocabulary-sized
    // total order (the thing a 100 TB corpus can't window), while the
    // spectrum is one partial-aggregable groupBy cascade; all sums are
    // exact longs, one final IEEE division for the slope.
    Query("text_zipf_spectrum", (s, dir) => {
      val freq = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens("text")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("tf"))
      // ~log2(corpus size) rows, but its lineage is the full token scan —
      // cache: it feeds both the report rows and the slope points
      val spec = freq
        .groupBy((length(bin(col("tf"))) - 1).cast("long").as("b"))
        .agg(count(lit(1)).as("n_tokens"),
             sum(col("tf")).as("n_occurrences"))
        .tracked
      val pts = spec.select(col("b"),
        (length(bin(col("n_tokens"))) - 1).cast("long").as("y"))
      val slope = pts.agg(count(lit(1)).as("n"), sum("b").as("sx"),
          sum("y").as("sy"), sum(col("b") * col("y")).as("sxy"),
          sum(col("b") * col("b")).as("sx2"))
        .select(((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
          / (col("n") * col("sx2") - col("sx") * col("sx")).cast("double"))
          .as("zipf_slope"))
      spec.crossJoin(broadcast(slope)).orderBy("b")
    },
      Some("""WITH freq AS (SELECT token, count(*) AS tf FROM (
                SELECT unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS token
                FROM documents) GROUP BY 1),
              spec AS (SELECT CAST(length(bin(tf)) - 1 AS BIGINT) AS b,
                              count(*) AS n_tokens,
                              CAST(sum(tf) AS BIGINT) AS n_occurrences
                       FROM freq GROUP BY 1),
              pts AS (SELECT b,
                             CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS y
                      FROM spec),
              sl AS (SELECT CAST(count(*) * sum(b * y) - sum(b) * sum(y)
                              AS DOUBLE)
                            / CAST(count(*) * sum(b * b) - sum(b) * sum(b)
                                AS DOUBLE) AS zipf_slope
                     FROM pts)
         SELECT spec.b, spec.n_tokens, spec.n_occurrences, sl.zipf_slope
         FROM spec CROSS JOIN sl ORDER BY spec.b""")),

    // North-star text analysis: tokenization + whitespace/BPE-ish/stopword
    // counting.
    Query("text_token_stats", (s, dir) =>
      TextAnalysis.withTokenStats(Tables.documents(s, dir))
        .select("doc_id", "n_tokens", "n_ws_tokens", "n_subwords",
                "n_stopwords", "avg_word_len")
        .orderBy("doc_id"),
      Some {
      val stops = TextAnalysis.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, text,
                            regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS toks
                     FROM documents)
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(len(regexp_extract_all(text, '[^\\s]+')) AS BIGINT)
                   AS n_ws_tokens,
                 CAST(coalesce(list_sum(list_transform(toks,
                   t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), 0)
                   AS BIGINT) AS n_subwords,
                 CAST(len(list_filter(toks, t -> list_contains($stops, t)))
                   AS BIGINT) AS n_stopwords,
                 CASE WHEN len(toks) > 0 THEN
                   CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE) END AS avg_word_len
          FROM t ORDER BY doc_id"""
      }),

    // North-star text analysis: quality scoring (pure-arithmetic ratios).
    Query("text_quality", (s, dir) =>
      TextAnalysis.withQuality(Tables.documents(s, dir))
        .select("doc_id", "punct_ratio", "stopword_ratio", "quality_score")
        .orderBy("doc_id"),
      Some {
      val stops = TextAnalysis.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, text,
                            regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS toks
                     FROM documents),
               r AS (SELECT doc_id,
                            CAST(len(toks) AS BIGINT) AS n_tokens,
                            CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                              AS DOUBLE) / CAST(length(text) AS DOUBLE)
                              AS punct_ratio,
                            CASE WHEN len(toks) > 0 THEN
                              CAST(len(list_filter(toks,
                                t -> list_contains($stops, t))) AS DOUBLE)
                                / CAST(len(toks) AS DOUBLE)
                            ELSE 0.0 END AS stopword_ratio
                     FROM t)
          SELECT doc_id, punct_ratio, stopword_ratio,
                 least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
                   + (1.0 - punct_ratio) * 0.3
                   + stopword_ratio * 0.3 AS quality_score
          FROM r ORDER BY doc_id"""
      }),

    // North-star text analysis: marker-based language ID with a
    // deterministic priority cascade.
    Query("text_langid", (s, dir) =>
      TextAnalysis.withLangId(Tables.documents(s, dir))
        .select("doc_id", "score_en", "score_de", "score_es", "score_fr",
                "predicted_lang")
        .orderBy("doc_id"),
      Some {
      def markers(lang: String) = TextAnalysis.langMarkers.toMap.apply(lang)
        .map(s => s"'$s'").mkString("[", ", ", "]")
      val scoreCols = TextAnalysis.langMarkers.map { case (lang, _) =>
        s"CAST(len(list_filter(toks, t -> list_contains(${markers(lang)}, t))) AS BIGINT) AS score_$lang"
      }.mkString(",\n                 ")
      val langs = TextAnalysis.langMarkers.map(_._1)
      val cascade = langs.map { lang =>
        val beats = langs.filter(_ != lang)
          .map(o => s"score_$lang >= score_$o").mkString(" AND ")
        s"WHEN score_$lang > 0 AND $beats THEN '$lang'"
      }.mkString("\n                 ")
      s"""WITH t AS (SELECT doc_id,
                            regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS toks
                     FROM documents),
               sc AS (SELECT doc_id,
                 $scoreCols
                 FROM t)
          SELECT doc_id, score_en, score_de, score_es, score_fr,
                 CASE $cascade
                 ELSE 'und' END AS predicted_lang
          FROM sc ORDER BY doc_id"""
      }),

    // Language-router QA: confusion matrix of declared vs predicted
    // language — one partial-aggregable groupBy over the langid pass.
    Query("text_lang_confusion", (s, dir) =>
      TextAnalysis.withLangId(Tables.documents(s, dir))
        .groupBy("lang", "predicted_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted_lang"),
      Some {
      def markers(lang: String) = TextAnalysis.langMarkers.toMap.apply(lang)
        .map(s => s"'$s'").mkString("[", ", ", "]")
      val scoreCols = TextAnalysis.langMarkers.map { case (lang, _) =>
        s"CAST(len(list_filter(toks, t -> list_contains(${markers(lang)}, t))) AS BIGINT) AS score_$lang"
      }.mkString(",\n                 ")
      val langs = TextAnalysis.langMarkers.map(_._1)
      val cascade = langs.map { lang =>
        val beats = langs.filter(_ != lang)
          .map(o => s"score_$lang >= score_$o").mkString(" AND ")
        s"WHEN score_$lang > 0 AND $beats THEN '$lang'"
      }.mkString("\n                 ")
      s"""WITH t AS (SELECT doc_id, lang,
                            regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS toks
                     FROM documents),
               sc AS (SELECT doc_id, lang,
                 $scoreCols
                 FROM t),
               p AS (SELECT lang,
                       CASE $cascade
                       ELSE 'und' END AS predicted_lang
                     FROM sc)
          SELECT lang, predicted_lang, count(*) AS n
          FROM p GROUP BY 1, 2 ORDER BY 1, 2"""
      }),

    // North-star text analysis: rolling-hash document fingerprint over
    // word 3-shingles (portable polynomial hash, no engine-specific hash).
    Query("text_fingerprint", (s, dir) =>
      TextAnalysis.withFingerprint(Tables.documents(s, dir))
        .select("doc_id", "fingerprint")
        .orderBy("doc_id"),
      Some(s"""WITH h AS (SELECT doc_id, $duckTokHashes AS th FROM documents)
          SELECT doc_id,
                 CASE WHEN len(th) >= 3 THEN
                   list_min(list_transform(generate_series(1, len(th) - 2), i ->
                     ((th[i] * 31 + th[i+1]) * 31 + th[i+2]) % 2147483647))
                 ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), th),
                        (a, b) -> a * 31 + b) % 2147483647
                 END AS fingerprint
          FROM h ORDER BY doc_id""")),

    // Passage-level exact dedup (the sub-document pass corpus pipelines
    // run after doc-level dedup): split every document into fixed
    // 64-char passages, find passages occurring in more than one place
    // corpus-wide, and score each doc by its duplicated-passage ratio.
    // Chunking explodes from per-doc arithmetic (never a cross join);
    // duplicate detection is one groupBy on the passage itself.
    Query("dedup_passage_exact", (s, dir) => {
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(sequence(lit(0),
            ((col("n_chars") - 1) / lit(64)).cast("int"))).as("i"))
        .join(Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "doc_id")
        .select(col("doc_id"),
          col("text").substr(col("i") * 64 + 1, lit(64)).as("chunk"))
        .filter(length(col("chunk")) > 0)
      val dupCount = chunks.groupBy("chunk")
        .agg(count(lit(1)).as("occ"))
      chunks.join(dupCount, "chunk")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
             sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup"),
          (col("n_dup").cast("double") / col("n_chunks").cast("double"))
            .as("dup_ratio"))
        .orderBy("doc_id")
    },
      Some("""WITH ch AS (SELECT doc_id,
                            unnest(range(0, (n_chars + 63) // 64)) AS i,
                            text
                     FROM documents),
              c AS (SELECT doc_id,
                           substr(text, CAST(i * 64 + 1 AS INT), 64)
                             AS chunk
                    FROM ch),
              cc AS (SELECT doc_id, chunk FROM c WHERE length(chunk) > 0),
              d AS (SELECT chunk, count(*) AS occ FROM cc GROUP BY 1)
         SELECT cc.doc_id, count(*) AS n_chunks,
                CAST(sum(CASE WHEN d.occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup,
                CAST(sum(CASE WHEN d.occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS dup_ratio
         FROM cc JOIN d ON d.chunk = cc.chunk
         GROUP BY 1 ORDER BY 1""")),

    // N-gram novelty: the fraction of a document's distinct token
    // 2-grams not seen in ANY lower-id document — the dedup-adjacent
    // freshness signal a crawl pipeline scores before admitting a page.
    // "Seen earlier" distributes as first-occurrence: one groupBy(gram)
    // min(doc_id), then a gram-keyed join back; a gram is novel for
    // exactly the doc that owns its minimum. No sequential scan, no
    // window over the corpus.
    Query("text_ngram_novelty", (s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.dedup.NgramJaccard.gram_hashes(col("text"), 2))
            .as("g"))
      val first = grams.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
      grams.join(first, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
             sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
               .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_grams").cast("double"))
            .as("novelty"))
        .orderBy("doc_id")
    },
      Some(s"""WITH h AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
              g AS (SELECT doc_id,
                           unnest(list_distinct(list_transform(
                             generate_series(1, len(th) - 1), i ->
                               (th[i] * 31 + th[i+1]) % 2147483647))) AS g
                    FROM h),
              f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY 1)
         SELECT gg.doc_id, count(*) AS n_grams,
                CAST(sum(CASE WHEN f.first_doc = gg.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel,
                CAST(sum(CASE WHEN f.first_doc = gg.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
         FROM g gg JOIN f ON f.g = gg.g
         GROUP BY 1 ORDER BY 1""")),

    // Sequence-length histogram in log₂ buckets — the distribution a
    // packing/batching layer sizes itself from. Bucket = floor(log2
    // n_chars) via the portable length(bin(n))−1 idiom; one
    // partial-aggregable groupBy.
    Query("text_length_log_histogram", (s, dir) =>
      Tables.documents(s, dir)
        .filter(col("n_chars") > 0)
        .withColumn("bucket", (length(bin(col("n_chars"))) - 1)
          .cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"),
             min(col("n_chars")).as("min_chars"),
             max(col("n_chars")).as("max_chars"))
        .orderBy("bucket"),
      Some("""SELECT length(bin(n_chars)) - 1 AS bucket,
                count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents WHERE n_chars > 0
         GROUP BY 1 ORDER BY 1""")),

    // LM-flavored quality signal: token surprisal in EXACT integer bits —
    // per token, B = 32 − floor(log2(corpus_frequency)) (rare tokens
    // contribute more bits), summed per document. floor(log2 n) is
    // length(bin(n)) − 1 on both engines (the HLL oracle's proven
    // portable idiom), so this perplexity proxy needs no floating log at
    // all. One token-keyed join (the frequency table is vocabulary-sized,
    // orders smaller than the token stream) + one partial-aggregable sum.
    Query("text_surprisal_bits", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens("text")).as("tok"))
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
      toks.join(freq, "tok")
        .withColumn("bits", lit(32L) - (length(bin(col("tf"))) - 1))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
             sum(col("bits")).as("sum_bits"))
        .select(col("doc_id"), col("n_tokens"), col("sum_bits"),
          (col("sum_bits").cast("double") / col("n_tokens").cast("double"))
            .as("mean_bits"))
        .orderBy("doc_id")
    },
      Some("""WITH toks AS (SELECT doc_id,
                unnest(regexp_extract_all(translate(text,
                  'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                  'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS tok
              FROM documents),
              freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1),
              j AS (SELECT t.doc_id,
                           32 - (length(bin(f.tf)) - 1) AS bits
                    FROM toks t JOIN freq f ON f.tok = t.tok)
         SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(bits) AS BIGINT) AS sum_bits,
                CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  AS mean_bits
         FROM j GROUP BY 1 ORDER BY 1""")),

    // Training-data hygiene: PII detection + redaction. The synthetic
    // corpus carries no natural PII, so deterministic emails/phones are
    // injected first (identically in the oracle), then detected with
    // regexp_count and scrubbed with regexp_replace — all codegen'd
    // string expressions, zero shuffle, linear per-row work. Patterns
    // stay in the RE2∩Java-regex common subset so both engines compile
    // them identically.
    Query("text_pii_scrub", (s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\d{3}-\\d{3}-\\d{4}"
      Tables.documents(s, dir)
        .withColumn("raw", concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
                   lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call 555-867-"),
                   lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))))
        .select(col("doc_id"),
          regexp_count(col("raw"), lit(emailRe)).cast("long")
            .as("n_emails"),
          regexp_count(col("raw"), lit(phoneRe)).cast("long")
            .as("n_phones"),
          length(regexp_replace(
              regexp_replace(col("raw"), emailRe, "[EMAIL]"),
              phoneRe, "[PHONE]")).cast("long").as("clean_len"))
        .orderBy("doc_id")
    },
      Some("""WITH raw AS (SELECT doc_id,
                text ||
                CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com' ELSE '' END ||
                CASE WHEN doc_id % 11 = 0
                     THEN ' call 555-867-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS raw
              FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(raw,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                  AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(raw, '\d{3}-\d{3}-\d{4}'))
                  AS BIGINT) AS n_phones,
                CAST(length(regexp_replace(regexp_replace(raw,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '[EMAIL]', 'g'), '\d{3}-\d{3}-\d{4}', '[PHONE]', 'g'))
                  AS BIGINT) AS clean_len
         FROM raw ORDER BY doc_id""")),

    // North-star dedup: MinHash+LSH near-dup pairs — shingle→minhash→band→
    // bucket-join; the only shuffle is the (band,key) self-join.
    Query("dedup_minhash_lsh", (s, dir) =>
      MinHash.nearDupPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 16, r = 4, minEstJaccard = 0.5)
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH $duckMinhashCandCtes
          SELECT doc_a, doc_b,
                 CAST(len(list_filter(generate_series(1, 16), i ->
                   sig_a[i] = sig_b[i])) AS DOUBLE) / 16.0 AS est_jaccard
          FROM cand
          WHERE CAST(len(list_filter(generate_series(1, 16), i ->
                  sig_a[i] = sig_b[i])) AS DOUBLE) / 16.0 >= 0.5
          ORDER BY doc_a, doc_b""")),

    // North-star dedup: 32-bit SimHash per document (fused codegen pass).
    Query("dedup_simhash", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), SimHash.simhash32(col("text")).as("simhash"))
        .orderBy("doc_id"),
      Some(s"""WITH h AS (SELECT doc_id, $duckTokHashes AS th FROM documents)
          SELECT doc_id, $duckSimhash AS simhash
          FROM h ORDER BY doc_id""")),

    // The simhash SCALE path: band-bucketed Hamming-ball search over the
    // FULL corpus — pairs within Hamming<=1 must agree on one of the two
    // 16-bit halves (pigeonhole), so candidates collide in buckets and
    // only bucket-mates get the exact bit_count(xor) verify. No O(n²).
    Query("dedup_simhash_banded", (s, dir) =>
      // the banded self-join is the pinned shared pair index — built once
      // per process+SF for this query, the CC label chain and the
      // incremental-CC delta (guide §2.4; r11)
      Shared.nearDupPairs(s, dir)
        .orderBy("doc_a", "doc_b"),
      // oracle of the banded scale path: identical bucketing in SQL (two
      // 16-bit halves), then exact Hamming verify — on the full corpus
      Some(bandedPairsOracle)),

    // The banding-free Hamming≤1 plan for TEMPLATED corpora: banding
    // keys are hash substrings, so boilerplate piles the corpus into a
    // few (band, key) buckets and the candidate self-join goes quadratic
    // in the hot bucket (measured: the scaling study's constant-salt
    // corpus sent the banded CC pipeline 6.2 s → 303 s at 10× —
    // SCALING.md). Bit-flip neighbor enumeration buckets on the FULL
    // 32-bit hash instead: candidate volume is bounded by OUTPUT size
    // (each true pair collides exactly once) at a 33× key blowup —
    // linear and skew-immune, the right trade at 100 TB. Same exact
    // pair set as the banded plan (both are 100%-recall Hamming≤1).
    Query("dedup_simhash_neighbor", (s, dir) =>
      SimHash.neighborNearDupPairs(Tables.documents(s, dir), "doc_id",
          "text")
        .orderBy("doc_a", "doc_b"),
      // both 100%-recall Hamming≤1 plans produce the TRUE pair set, so the
      // banded oracle pins the neighbor-enumeration plan too
      Some(bandedPairsOracle)),

    // MinHash-LSH with the production skew guard: buckets larger than
    // maxBucket are dropped before the candidate self-join (a 10⁶-member
    // bucket is boilerplate, not 10¹² useful pairs) — bounded recall
    // loss on exactly the degenerate keys for a hard candidate ceiling.
    // The fixture corpus has no hot buckets at cap 4, so this output
    // equals dedup_minhash_lsh here; the ORACLE mirrors the cap, so the
    // guard's semantics (not just its no-op case) are pinned bitwise.
    Query("dedup_minhash_capped", (s, dir) =>
      MinHash.candidatePairsCapped(Tables.documents(s, dir), "doc_id",
          "text", maxBucket = 4)
        .withColumn("est_jaccard",
          expr("size(filter(zip_with(sig_a, sig_b, (a, b) -> a = b), " +
            "x -> x))").cast("double") / lit(16.0))
        .filter(col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH ${duckMinhashCandCappedCtes(4)}
          SELECT doc_a, doc_b,
                 CAST(len(list_filter(generate_series(1, 16), i ->
                   sig_a[i] = sig_b[i])) AS DOUBLE) / 16.0 AS est_jaccard
          FROM cand
          WHERE CAST(len(list_filter(generate_series(1, 16), i ->
                  sig_a[i] = sig_b[i])) AS DOUBLE) / 16.0 >= 0.5
          ORDER BY doc_a, doc_b""")),

    // LSH skew OBSERVABILITY: the bucket-size histogram and its implied
    // candidate-pair mass Σ n_buckets·s(s−1)/2 — the query a pipeline
    // runs BEFORE the candidate join to decide whether banding is safe
    // or the cap/neighbor-enumeration path is needed (it would have
    // predicted the 303 s blow-up from the bucket census alone, without
    // running the join). Two partial-aggregable groupBys, no self-join.
    Query("dedup_lsh_bucket_stats", (s, dir) => {
      val sizes = MinHash.bucketFrame(Tables.documents(s, dir), "doc_id",
          "text", 16, 4)
        .groupBy("band", "key").agg(count(lit(1)).as("sz"))
      sizes.groupBy("sz").agg(count(lit(1)).as("n_buckets"))
        .withColumn("cand_pairs",
          expr("((sz * (sz - 1)) div 2) * n_buckets"))
        .orderBy("sz")
    },
      Some(s"""WITH $duckMinhashBkCtes,
          bsz AS (SELECT band, key, count(*) AS sz FROM bk GROUP BY 1, 2)
          SELECT sz, count(*) AS n_buckets,
                 ((sz * (sz - 1)) // 2) * count(*) AS cand_pairs
          FROM bsz GROUP BY sz ORDER BY sz""")),

    // ANN index training: one distributed Lloyd (k-means) update — the
    // step that makes the IVF centroids trainable rather than fixed.
    // Assignment is the shared max_by argmax; the per-dimension mean runs
    // over exact integer micro-units so it's order-independent.
    Query("sim_kmeans_update", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.kmeansUpdate(emb, emb.filter(col("vec_id") < 8))
        .orderBy("centroid_id", "dim")
    },
      Some(s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ec
                     FROM embeddings WHERE vec_id < 8),
            d AS (SELECT vec_id, centroid_id, embedding,
                    ${duckDot("embedding", "ec")}
                      / (sqrt(${duckDot("embedding", "embedding")})
                         * sqrt(${duckDot("ec", "ec")})) AS cosine
                  FROM embeddings CROSS JOIN c),
            asg AS (SELECT vec_id, centroid_id, embedding FROM (
                      SELECT vec_id, centroid_id, embedding,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY cosine DESC, centroid_id ASC) AS rn
                      FROM d) WHERE rn = 1),
            x AS (SELECT centroid_id, CAST(i - 1 AS INT) AS dim,
                         embedding[i] AS v
                  FROM asg, unnest(generate_series(1, len(embedding)))
                    AS t(i))
          SELECT centroid_id, dim,
                 CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000.0, 0)
                               AS BIGINT)) AS DOUBLE)
                   / (count(*) * 1000000.0) AS mean_val
          FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    // The dedup DECISION step: near-dup pairs → connected components →
    // canonical (min-id) survivor per cluster. Min-label propagation,
    // keyed joins + partial-aggregable min per round, deterministic
    // fixpoint — completes signature → candidates → clusters → survivors.
    Query("dedup_cc_canonical", (s, dir) => {
      nearDupLabels(s, dir).orderBy("doc_id")
    },
      // transitive closure over the banded pairs; min reachable id (incl.
      // self) per node == the min-label propagation fixpoint
      Some(s"""WITH RECURSIVE
            h AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
            s AS (SELECT doc_id, $duckSimhash AS simhash FROM h),
            b AS (SELECT doc_id, simhash, 0 AS band,
                         simhash & 65535 AS key FROM s
                  UNION ALL
                  SELECT doc_id, simhash, 1,
                         (simhash >> 16) & 65535 FROM s),
            cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                            x.simhash AS sh_a, y.simhash AS sh_b
                     FROM b x JOIN b y
                       ON x.band = y.band AND x.key = y.key
                          AND x.doc_id < y.doc_id),
            pairs AS (SELECT doc_a, doc_b FROM cand
                      WHERE bit_count(xor(sh_a, sh_b)) <= 1),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION
                      SELECT doc_b, doc_a FROM pairs),
            reach(n, m) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
          SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS canonical_id
          FROM reach GROUP BY 1 ORDER BY 1""")),

    // Corpus duplication report: cluster-size histogram over the CC
    // near-dup clusters + how many docs dedup would drop — the "how much
    // of my corpus is duplicated" summary a pipeline emits after
    // clustering. Two partial-aggregable groupBys over the label frame.
    Query("dedup_cluster_stats", (s, dir) => {
      nearDupLabels(s, dir)
        .groupBy("canonical_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .withColumn("docs_to_drop", (col("sz") - 1) * col("n_clusters"))
        .orderBy("sz")
    },
      Some(s"""WITH RECURSIVE
            h AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
            s AS (SELECT doc_id, $duckSimhash AS simhash FROM h),
            b AS (SELECT doc_id, simhash, 0 AS band,
                         simhash & 65535 AS key FROM s
                  UNION ALL
                  SELECT doc_id, simhash, 1,
                         (simhash >> 16) & 65535 FROM s),
            cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                            x.simhash AS sh_a, y.simhash AS sh_b
                     FROM b x JOIN b y
                       ON x.band = y.band AND x.key = y.key
                          AND x.doc_id < y.doc_id),
            pairs AS (SELECT doc_a, doc_b FROM cand
                      WHERE bit_count(xor(sh_a, sh_b)) <= 1),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION
                      SELECT doc_b, doc_a FROM pairs),
            reach(n, m) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
            lbl AS (SELECT n AS doc_id, min(m) AS canonical_id
                    FROM reach GROUP BY 1),
            cz AS (SELECT canonical_id, count(*) AS sz FROM lbl GROUP BY 1)
          SELECT sz, count(*) AS n_clusters,
                 CAST((sz - 1) * count(*) AS BIGINT) AS docs_to_drop
          FROM cz GROUP BY 1 ORDER BY 1""")),

    // Dedup SURVIVORSHIP: production drops duplicates by POLICY, not by
    // min-id — keep the best exemplar per near-dup cluster (here: most
    // content, ties to the lower id). One keyed join of the pinned label
    // frame to doc metadata + a partial-aggregable max_by per cluster;
    // the policy column is the only thing that changes at 100 TB.
    Query("dedup_survivor_policy", (s, dir) => {
      val labels = nearDupLabels(s, dir)
      val meta = Tables.documents(s, dir).select(col("doc_id"),
        col("n_chars"))
      labels.join(meta, "doc_id")
        .groupBy("canonical_id")
        .agg(count(lit(1)).as("cluster_sz"),
          max_by(col("doc_id"),
            struct(col("n_chars"), (-col("doc_id")).as("neg")))
            .as("survivor_id"),
          max("n_chars").as("survivor_chars"))
        .orderBy("canonical_id")
    },
      // the CC closure joined to doc metadata; survivor = deterministic
      // (n_chars desc, doc_id asc) head per cluster
      Some(s"""WITH RECURSIVE
            h AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
            s AS (SELECT doc_id, $duckSimhash AS simhash FROM h),
            b AS (SELECT doc_id, simhash, 0 AS band,
                         simhash & 65535 AS key FROM s
                  UNION ALL
                  SELECT doc_id, simhash, 1,
                         (simhash >> 16) & 65535 FROM s),
            cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                            x.simhash AS sh_a, y.simhash AS sh_b
                     FROM b x JOIN b y
                       ON x.band = y.band AND x.key = y.key
                          AND x.doc_id < y.doc_id),
            pairs AS (SELECT doc_a, doc_b FROM cand
                      WHERE bit_count(xor(sh_a, sh_b)) <= 1),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION
                      SELECT doc_b, doc_a FROM pairs),
            reach(n, m) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
            cl AS (SELECT n AS doc_id, CAST(min(m) AS BIGINT)
                     AS canonical_id
                   FROM reach GROUP BY 1),
            j AS (SELECT cl.canonical_id, cl.doc_id, d.n_chars
                  FROM cl JOIN documents d ON d.doc_id = cl.doc_id),
            r AS (SELECT canonical_id, doc_id, n_chars,
                    row_number() OVER (PARTITION BY canonical_id
                      ORDER BY n_chars DESC, doc_id ASC) AS rn,
                    count(*) OVER (PARTITION BY canonical_id)
                      AS cluster_sz
                  FROM j)
          SELECT canonical_id, cluster_sz, doc_id AS survivor_id,
                 CAST(n_chars AS BIGINT) AS survivor_chars
          FROM r WHERE rn = 1 ORDER BY canonical_id""")),

    // Training-mixture allocation: per-source sampling plan for a fixed
    // document budget, weights ∝ √(corpus mass) (the sublinear-mixing
    // heuristic that keeps small domains represented). Integer lattice
    // end-to-end (floor-sqrt weights, DIV splits), one aggregate + one
    // broadcast total — the whole plan is two partial-aggregable passes
    // at any corpus size. rate_ppm > 10⁶ marks oversampled (multi-epoch)
    // domains, the signal a mixture tuner consumes.
    Query("sample_domain_mixture", (s, dir) => {
      val g = Tables.documents(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("wt",
          floor(sqrt(col("sum_chars").cast("double"))).cast("long"))
      val tot = g.agg(sum("wt").as("total_wt"))
      g.crossJoin(broadcast(tot))
        .withColumn("n_alloc", expr("(10000 * wt) div total_wt"))
        .withColumn("rate_ppm", expr("(1000000 * n_alloc) div n_docs"))
        .select("source", "n_docs", "sum_chars", "wt", "n_alloc",
          "rate_ppm")
        .orderBy("source")
    },
      Some("""WITH g AS (SELECT source, count(*) AS n_docs,
                           CAST(sum(n_chars) AS BIGINT) AS sum_chars
                    FROM documents GROUP BY 1),
            w AS (SELECT source, n_docs, sum_chars,
                         CAST(floor(sqrt(CAST(sum_chars AS DOUBLE)))
                           AS BIGINT) AS wt
                  FROM g),
            t AS (SELECT CAST(sum(wt) AS BIGINT) AS total_wt FROM w)
         SELECT source, n_docs, sum_chars, wt,
                (10000 * wt) // total_wt AS n_alloc,
                (1000000 * ((10000 * wt) // total_wt)) // n_docs
                  AS rate_ppm
         FROM w CROSS JOIN t ORDER BY source""")),

    // SimHash near-dup pairs by Hamming distance over a bounded id range.
    Query("dedup_simhash_pairs", (s, dir) => {
      val d = Tables.documents(s, dir).filter(col("doc_id") < 250)
        .select(col("doc_id"), SimHash.simhash32(col("text")).as("simhash"))
      d.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
        .join(d.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b")),
              col("doc_a") < col("doc_b"))
        .withColumn("hamming",
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int"))
        .filter(col("hamming") <= 1)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    },
      Some(s"""WITH h AS (SELECT doc_id, $duckTokHashes AS th
                     FROM documents WHERE doc_id < 250),
            s AS (SELECT doc_id, $duckSimhash AS simhash FROM h)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM s a JOIN s b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
          ORDER BY doc_a, doc_b""")),

    // North-star dedup: exact token-2-gram Jaccard over a bounded id range
    // (the brute-force ground truth the LSH variants approximate). Gram
    // sets are sorted distinct hash arrays built in one fused pass;
    // pairwise scoring is a codegen'd linear merge-intersect.
    Query("dedup_ngram_jaccard", (s, dir) => {
      import graft.dedup.NgramJaccard
      val g = Tables.documents(s, dir).filter(col("doc_id") < 150)
        .select(col("doc_id"),
                NgramJaccard.gram_hashes(col("text"), 2).as("grams"))
      g.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
        .join(g.select(col("doc_id").as("doc_b"), col("grams").as("grams_b")),
              col("doc_a") < col("doc_b"))
        .withColumn("jaccard",
          NgramJaccard.jaccard_sorted(col("grams_a"), col("grams_b")))
        .filter(col("jaccard") >= 0.10)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    },
      Some(s"""WITH h AS (SELECT doc_id, $duckTokHashes AS th
                     FROM documents WHERE doc_id < 150),
            g AS (SELECT doc_id,
                         list_distinct(list_transform(
                           generate_series(1, len(th) - 1), i ->
                             (th[i] * 31 + th[i+1]) % 2147483647)) AS grams
                  FROM h)
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / CAST(len(a.grams) + len(b.grams)
                           - len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    AS jaccard
           FROM g a JOIN g b ON a.doc_id < b.doc_id)
         WHERE jaccard >= 0.10
         ORDER BY doc_a, doc_b""")),

    // ASYMMETRIC near-dup: containment C(a→b) = |A∩B| / |A| — the
    // quote/inclusion detector (a short doc fully contained in a long
    // one has Jaccard ≈ |A|/|B| ≈ 0 but containment 1.0, so symmetric
    // dedup misses it). Same bounded-range exact-pairs posture as the
    // Jaccard ground truth; the gram sets are sorted distinct hash
    // arrays and the intersect is the codegen'd linear merge. Emitted
    // per ORDERED pair (the measure is directional).
    Query("dedup_containment", (s, dir) => {
      import graft.dedup.NgramJaccard
      val g = Tables.documents(s, dir).filter(col("doc_id") < 150)
        .select(col("doc_id"),
                NgramJaccard.gram_hashes(col("text"), 2).as("grams"))
        .tracked // both sides of the ordered-pair join
      g.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
        .join(g.select(col("doc_id").as("doc_b"),
            col("grams").as("grams_b")),
          col("doc_a") =!= col("doc_b"))
        .filter(size(col("grams_a")) > 0) // 0/0 → NaN orders OPPOSITE ways
                                          // in Spark vs DuckDB; exclude
        .withColumn("containment",
          NgramJaccard.intersect_count_sorted(col("grams_a"),
              col("grams_b")).cast("double")
            / size(col("grams_a")).cast("double"))
        .filter(col("containment") >= 0.5)
        .select("doc_a", "doc_b", "containment")
        .orderBy("doc_a", "doc_b")
    },
      Some(s"""WITH h AS (SELECT doc_id, $duckTokHashes AS th
                     FROM documents WHERE doc_id < 150),
            g AS (SELECT doc_id,
                         list_distinct(list_transform(
                           generate_series(1, len(th) - 1), i ->
                             (th[i] * 31 + th[i+1]) % 2147483647)) AS grams
                  FROM h)
         SELECT doc_a, doc_b, containment FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / CAST(len(a.grams) AS DOUBLE) AS containment
           FROM g a JOIN g b ON a.doc_id <> b.doc_id
           WHERE len(a.grams) > 0)
         WHERE containment >= 0.5
         ORDER BY doc_a, doc_b""")),

    // Ingest-time incremental dedup — the production shape: a NEW batch
    // is admitted against the EXISTING corpus, not self-joined with it.
    // Both sides band their simhash (16-bit halves, pigeonhole-complete
    // for Hamming≤1); only (band,key) collisions verify. At scale the
    // existing side is the materialized band/signature index maintained
    // at ingest (centroid of stream_lsh_neardup's state), so per batch
    // only the NEW docs' bands shuffle — the corpus is never rescanned.
    // Output: every new doc with its admission verdict.
    Query("dedup_incremental_ingest", (s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), SimHash.simhash32(col("text")).as("sh"))
        .select(col("doc_id"), col("sh"), explode(array(
            struct(lit(0).as("band"),
              col("sh").bitwiseAND(lit(65535L)).as("key")),
            struct(lit(1).as("band"),
              shiftright(col("sh"), 16).bitwiseAND(lit(65535L))
                .as("key")))).as("bk"))
        .select(col("doc_id"), col("sh"),
          col("bk.band").as("band"), col("bk.key").as("key"))
        .tracked // new side + existing side slice one banded frame
      val isNew = col("doc_id") % 5 === 0
      val dupNew = sh.filter(isNew).as("n")
        .join(sh.filter(!isNew).as("o"),
          col("n.band") === col("o.band") && col("n.key") === col("o.key"))
        .filter(bit_count(col("n.sh").bitwiseXOR(col("o.sh"))) <= 1)
        .select(col("n.doc_id").as("doc_id")).distinct()
        .withColumn("hit", lit(true))
      Tables.documents(s, dir).filter(isNew).select("doc_id")
        .join(dupNew, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("hit"), lit(false)).as("is_dup_of_existing"))
        .orderBy("doc_id")
    },
      Some(s"""WITH h AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
            s AS (SELECT doc_id, $duckSimhash AS simhash FROM h),
            b AS (SELECT doc_id, simhash, 0 AS band,
                         simhash & 65535 AS key FROM s
                  UNION ALL
                  SELECT doc_id, simhash, 1,
                         (simhash >> 16) & 65535 FROM s),
            dup AS (SELECT DISTINCT n.doc_id
                    FROM b n JOIN b o
                      ON n.band = o.band AND n.key = o.key
                    WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
                      AND bit_count(xor(n.simhash, o.simhash)) <= 1)
         SELECT d.doc_id,
                (dup.doc_id IS NOT NULL) AS is_dup_of_existing
         FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
         WHERE d.doc_id % 5 = 0
         ORDER BY d.doc_id""")),

    // INCREMENTAL connected components — the materialized-view
    // maintenance posture for the dedup clustering at 100 TB: a new
    // ingest batch must never re-cluster the old corpus. Yesterday's
    // clustering is STAR-COMPRESSED to its (doc → canonical) label edges
    // (at scale: the stored label table), the delta is only the banded
    // candidate pairs touching the new batch (at scale: new-batch
    // buckets probing the materialized band index — never old×old), and
    // one CC over (stars ∪ delta) — a frame dominated by the label
    // table, not the pair graph — yields labels PROVABLY equal to
    // re-clustering from scratch: star edges preserve old components
    // exactly, delta edges are precisely the pairs a full run would add,
    // so the union has the full graph's components. The oracle is the
    // full-corpus closure, pinning incremental ≡ full re-cluster
    // bitwise. Batch convention mirrors dedup_incremental_ingest
    // (new = doc_id % 5 == 0).
    Query("dedup_cc_incremental", (s, dir) => {
      import graft.dedup.Components
      // yesterday: the stored label table, star-compressed to
      // (doc → canonical) edges. Round 11 (guide §2.4, VERDICT r10 item
      // 2): the old arm reads the PINNED label table restricted to old
      // docs instead of re-clustering the old corpus from scratch. The
      // final labels are provably unchanged: every star edge connects
      // nodes of one full component (components can only merge along
      // true pairs), and within a component old docs reach the canonical
      // directly by their star edge while every edge incident to a new
      // doc is in the delta by definition — so (stars ∪ delta) has
      // exactly the full graph's components over exactly the same node
      // set (old-pair endpoints ∪ delta endpoints; canonicals are
      // themselves members of one of those sets).
      // IncrementalCcSemiJoinSpec pins the equivalence against an
      // independent full re-cluster; the oracle pins it bitwise.
      val oldArm = Shared.nearDupLabels(s, dir)
        .filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("a"), col("canonical_id").as("b"))
      // today: banded pairs with ≥ 1 new endpoint — a FILTER of the
      // pinned shared pair index (banding keys depend only on each doc's
      // own hash, so the full-corpus pair set restricted to ≥1-new
      // endpoints IS the delta the per-batch banding would emit)
      val delta = Shared.nearDupPairs(s, dir)
        .filter(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      Components.canonicalLabels(oldArm.unionByName(delta), "a", "b")
        .withColumn("is_new_doc", col("doc_id") % 5 === 0)
        .orderBy("doc_id")
    },
      // the incremental merge is pinned against the FULL-corpus closure:
      // star-compressed old labels ∪ new-batch delta has exactly the full
      // graph's components, so the oracle is the same recursive CTE as
      // dedup_cc_canonical plus the batch marker
      Some(s"""WITH RECURSIVE
            h AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
            s AS (SELECT doc_id, $duckSimhash AS simhash FROM h),
            b AS (SELECT doc_id, simhash, 0 AS band,
                         simhash & 65535 AS key FROM s
                  UNION ALL
                  SELECT doc_id, simhash, 1,
                         (simhash >> 16) & 65535 FROM s),
            cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                            x.simhash AS sh_a, y.simhash AS sh_b
                     FROM b x JOIN b y
                       ON x.band = y.band AND x.key = y.key
                          AND x.doc_id < y.doc_id),
            pairs AS (SELECT doc_a, doc_b FROM cand
                      WHERE bit_count(xor(sh_a, sh_b)) <= 1),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION
                      SELECT doc_b, doc_a FROM pairs),
            reach(n, m) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
          SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS canonical_id,
                 (n % 5 = 0) AS is_new_doc
          FROM reach GROUP BY 1 ORDER BY 1""")),

    // North-star dedup: embedding-cosine near-dup pairs (bounded exact
    // pairwise; IVF/LSH prune the same metric at scale).
    Query("dedup_embedding_cosine", (s, dir) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir),
          maxId = 200, minCosine = 0.35)
        .orderBy("vec_a", "vec_b"),
      Some(s"""WITH v AS (SELECT vec_id, embedding AS e
                     FROM embeddings WHERE vec_id < 200)
          SELECT vec_a, vec_b, cosine FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ${duckDot("a.e", "b.e")}
                     / (sqrt(${duckDot("a.e", "a.e")})
                        * sqrt(${duckDot("b.e", "b.e")})) AS cosine
            FROM v a JOIN v b ON a.vec_id < b.vec_id)
          WHERE cosine >= 0.35
          ORDER BY vec_a, vec_b""")),

    // North-star similarity: brute-force cosine top-k (broadcast queries ×
    // corpus scan, per-query window top-k).
    Query("sim_bruteforce_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy("query_id", "rank")
    },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS eq
                     FROM embeddings WHERE vec_id < 10),
            d AS (SELECT query_id, vec_id,
                    ${duckDot("eq", "embedding")}
                      / (sqrt(${duckDot("eq", "eq")})
                         * sqrt(${duckDot("embedding", "embedding")})) AS cosine
                  FROM q JOIN embeddings ON vec_id <> query_id),
            r AS (SELECT query_id, vec_id, cosine,
                    CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
                  FROM d)
          SELECT query_id, rank, vec_id, cosine FROM r
          WHERE rank <= 5 ORDER BY query_id, rank""")),

    // North-star similarity: IVF coarse assignment (broadcast centroids,
    // argmax-cosine partitioning — the scale path's inverted lists).
    Query("sim_ivf_assign", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfAssign(emb, emb.filter(col("vec_id") < 8))
        .orderBy("centroid_id")
    },
      Some(s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ec
                     FROM embeddings WHERE vec_id < 8),
            d AS (SELECT vec_id, centroid_id,
                    ${duckDot("embedding", "ec")}
                      / (sqrt(${duckDot("embedding", "embedding")})
                         * sqrt(${duckDot("ec", "ec")})) AS cosine
                  FROM embeddings CROSS JOIN c),
            r AS (SELECT vec_id, centroid_id,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY cosine DESC, centroid_id ASC) AS rn
                  FROM d)
          SELECT centroid_id, count(*) AS n_assigned
          FROM r WHERE rn = 1
          GROUP BY 1 ORDER BY 1""")),

    // North-star similarity: IVF probe — approximate top-k searching only
    // the nprobe nearest centroids' inverted lists (the 100 TB search
    // path; sim_bruteforce_topk is its ground truth).
    Query("sim_ivf_probe_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfProbeTopK(emb, emb.filter(col("vec_id") < 8),
          emb.filter(col("vec_id") < 10), nprobe = 2, k = 5)
        .orderBy("query_id", "rank")
    },
      Some(s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ec
                     FROM embeddings WHERE vec_id < 8),
            asg AS (SELECT centroid_id, vec_id, embedding FROM (
                      SELECT e.vec_id, c.centroid_id, e.embedding,
                        row_number() OVER (PARTITION BY e.vec_id ORDER BY
                          ${duckDot("e.embedding", "c.ec")}
                            / (sqrt(${duckDot("e.embedding", "e.embedding")})
                               * sqrt(${duckDot("c.ec", "c.ec")})) DESC,
                          c.centroid_id ASC) AS rn
                      FROM embeddings e CROSS JOIN c)
                    WHERE rn = 1),
            prb AS (SELECT query_id, centroid_id, emb_q FROM (
                      SELECT q.vec_id AS query_id, c.centroid_id,
                             q.embedding AS emb_q,
                        row_number() OVER (PARTITION BY q.vec_id ORDER BY
                          ${duckDot("q.embedding", "c.ec")}
                            / (sqrt(${duckDot("q.embedding", "q.embedding")})
                               * sqrt(${duckDot("c.ec", "c.ec")})) DESC,
                          c.centroid_id ASC) AS rn
                      FROM embeddings q CROSS JOIN c WHERE q.vec_id < 10)
                    WHERE rn <= 2),
            sc AS (SELECT p.query_id, a.vec_id,
                     ${duckDot("p.emb_q", "a.embedding")}
                       / (sqrt(${duckDot("p.emb_q", "p.emb_q")})
                          * sqrt(${duckDot("a.embedding", "a.embedding")}))
                       AS cosine
                   FROM prb p JOIN asg a USING (centroid_id)
                   WHERE a.vec_id <> p.query_id),
            r AS (SELECT query_id, vec_id, cosine,
                    CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
                  FROM sc)
          SELECT query_id, rank, vec_id, cosine FROM r
          WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Product quantization, encode step: 4 subspaces × 16 codewords; one
    // explode + broadcast codebook join + partial-aggregable argmax (cost
    // independent of m). Codewords = designated corpus vectors;
    // sim_kmeans_update is the training step a production codebook adds.
    Query("sim_pq_codes", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqEncode(emb, emb.filter(col("vec_id") < 16), 4, 16)
        .orderBy("vec_id", "sub_id")
    },
      Some(s"""WITH sub AS (SELECT unnest([0, 1, 2, 3]) AS sub_id),
              cb AS (SELECT e.vec_id AS code_id, s.sub_id, e.embedding AS ce
                     FROM embeddings e CROSS JOIN sub s WHERE e.vec_id < 16),
              cs AS (SELECT e.vec_id, s.sub_id, e.embedding AS ve
                     FROM embeddings e CROSS JOIN sub s),
              d AS (SELECT cs.vec_id, cs.sub_id, cb.code_id,
                      ${duckDotSub("ve", "ce", "cs.sub_id * 16")} AS dot
                    FROM cs JOIN cb ON cb.sub_id = cs.sub_id),
              r AS (SELECT vec_id, sub_id, code_id,
                      row_number() OVER (PARTITION BY vec_id, sub_id
                        ORDER BY dot DESC, code_id ASC) AS rn FROM d)
         SELECT vec_id, sub_id, code_id FROM r WHERE rn = 1
         ORDER BY vec_id, sub_id""")),

    // PQ asymmetric-distance top-k: query scored against the 64-entry
    // codebook once (broadcast LUT); corpus vectors ranked by the sum of
    // their m table entries — embeddings never touched at query time.
    // Subspace contributions summed in fixed order (bitwise-portable).
    Query("sim_pq_adc_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cw = emb.filter(col("vec_id") < 16)
      Similarity.pqAdcTopK(Similarity.pqEncode(emb, cw, 4, 16), cw,
          emb.filter(col("vec_id") < 10), 4, 16, 5)
        .orderBy("query_id", "rank")
    },
      Some(s"""WITH sub AS (SELECT unnest([0, 1, 2, 3]) AS sub_id),
              cb AS (SELECT e.vec_id AS code_id, s.sub_id, e.embedding AS ce
                     FROM embeddings e CROSS JOIN sub s WHERE e.vec_id < 16),
              cs AS (SELECT e.vec_id, s.sub_id, e.embedding AS ve
                     FROM embeddings e CROSS JOIN sub s),
              d AS (SELECT cs.vec_id, cs.sub_id, cb.code_id,
                      ${duckDotSub("ve", "ce", "cs.sub_id * 16")} AS dot
                    FROM cs JOIN cb ON cb.sub_id = cs.sub_id),
              codes AS (SELECT vec_id, sub_id, code_id FROM (
                          SELECT vec_id, sub_id, code_id,
                            row_number() OVER (PARTITION BY vec_id, sub_id
                              ORDER BY dot DESC, code_id ASC) AS rn FROM d)
                        WHERE rn = 1),
              q AS (SELECT e.vec_id AS query_id, s.sub_id,
                           e.embedding AS qe
                    FROM embeddings e CROSS JOIN sub s WHERE e.vec_id < 10),
              lut AS (SELECT q.query_id, q.sub_id, cb.code_id,
                        ${duckDotSub("qe", "ce", "q.sub_id * 16")} AS dot
                      FROM q JOIN cb ON cb.sub_id = q.sub_id),
              est AS (SELECT l.query_id, c.vec_id,
                        max(CASE WHEN c.sub_id = 0 THEN l.dot END) AS s0,
                        max(CASE WHEN c.sub_id = 1 THEN l.dot END) AS s1,
                        max(CASE WHEN c.sub_id = 2 THEN l.dot END) AS s2,
                        max(CASE WHEN c.sub_id = 3 THEN l.dot END) AS s3
                      FROM codes c JOIN lut l ON l.sub_id = c.sub_id
                                            AND l.code_id = c.code_id
                      WHERE l.query_id <> c.vec_id
                      GROUP BY 1, 2),
              r AS (SELECT query_id, vec_id,
                      s0 + s1 + s2 + s3 AS est_sim,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY s0 + s1 + s2 + s3 DESC, vec_id ASC)
                        AS rank
                    FROM est)
         SELECT query_id, rank, vec_id, est_sim FROM r WHERE rank <= 5
         ORDER BY query_id, rank""")),

    // The FAISS-style composite index: IVF coarse pruning to nprobe
    // inverted lists, then ADC over PQ codes on ONLY those candidates —
    // corpus embeddings untouched at query time end-to-end (the probe
    // join moves list entries, the scoring join moves b·m-bit codes;
    // at 100 TB both live centroid-bucketed so neither shuffles the
    // corpus). sim_ivf_probe_topk and sim_pq_adc_topk are its two
    // halves measured in isolation.
    Query("sim_ivf_pq_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8),
          emb.filter(col("vec_id") < 16), emb.filter(col("vec_id") < 10),
          nprobe = 2, m = 4, dsub = 16, k = 5)
        .orderBy("query_id", "rank")
    },
      // IVF candidate pruning (asg/prb from the sim_ivf_probe_topk chain)
      // composed with the PQ codes/LUT chain from sim_pq_adc_topk — the
      // est join additionally keyed on the candidate set
      Some(s"""WITH sub AS (SELECT unnest([0, 1, 2, 3]) AS sub_id),
              c AS (SELECT vec_id AS centroid_id, embedding AS ec
                    FROM embeddings WHERE vec_id < 8),
              asg AS (SELECT centroid_id, vec_id FROM (
                        SELECT e.vec_id, c.centroid_id,
                          row_number() OVER (PARTITION BY e.vec_id ORDER BY
                            ${duckDot("e.embedding", "c.ec")}
                              / (sqrt(${duckDot("e.embedding", "e.embedding")})
                                 * sqrt(${duckDot("c.ec", "c.ec")})) DESC,
                            c.centroid_id ASC) AS rn
                        FROM embeddings e CROSS JOIN c)
                      WHERE rn = 1),
              prb AS (SELECT query_id, centroid_id FROM (
                        SELECT q.vec_id AS query_id, c.centroid_id,
                          row_number() OVER (PARTITION BY q.vec_id ORDER BY
                            ${duckDot("q.embedding", "c.ec")}
                              / (sqrt(${duckDot("q.embedding", "q.embedding")})
                                 * sqrt(${duckDot("c.ec", "c.ec")})) DESC,
                            c.centroid_id ASC) AS rn
                        FROM embeddings q CROSS JOIN c WHERE q.vec_id < 10)
                      WHERE rn <= 2),
              cand AS (SELECT p.query_id, a.vec_id
                       FROM prb p JOIN asg a
                         ON a.centroid_id = p.centroid_id
                       WHERE a.vec_id <> p.query_id),
              cb AS (SELECT e.vec_id AS code_id, s.sub_id, e.embedding AS ce
                     FROM embeddings e CROSS JOIN sub s WHERE e.vec_id < 16),
              cs AS (SELECT e.vec_id, s.sub_id, e.embedding AS ve
                     FROM embeddings e CROSS JOIN sub s),
              d AS (SELECT cs.vec_id, cs.sub_id, cb.code_id,
                      ${duckDotSub("ve", "ce", "cs.sub_id * 16")} AS dot
                    FROM cs JOIN cb ON cb.sub_id = cs.sub_id),
              codes AS (SELECT vec_id, sub_id, code_id FROM (
                          SELECT vec_id, sub_id, code_id,
                            row_number() OVER (PARTITION BY vec_id, sub_id
                              ORDER BY dot DESC, code_id ASC) AS rn FROM d)
                        WHERE rn = 1),
              q AS (SELECT e.vec_id AS query_id, s.sub_id,
                           e.embedding AS qe
                    FROM embeddings e CROSS JOIN sub s WHERE e.vec_id < 10),
              lut AS (SELECT q.query_id, q.sub_id, cb.code_id,
                        ${duckDotSub("qe", "ce", "q.sub_id * 16")} AS dot
                      FROM q JOIN cb ON cb.sub_id = q.sub_id),
              est AS (SELECT ca.query_id, ca.vec_id,
                        max(CASE WHEN co.sub_id = 0 THEN l.dot END) AS s0,
                        max(CASE WHEN co.sub_id = 1 THEN l.dot END) AS s1,
                        max(CASE WHEN co.sub_id = 2 THEN l.dot END) AS s2,
                        max(CASE WHEN co.sub_id = 3 THEN l.dot END) AS s3
                      FROM cand ca
                      JOIN codes co ON co.vec_id = ca.vec_id
                      JOIN lut l ON l.query_id = ca.query_id
                                AND l.sub_id = co.sub_id
                                AND l.code_id = co.code_id
                      GROUP BY 1, 2),
              r AS (SELECT query_id, vec_id,
                      s0 + s1 + s2 + s3 AS est_sim,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY s0 + s1 + s2 + s3 DESC, vec_id ASC)
                        AS rank
                    FROM est)
         SELECT query_id, rank, vec_id, est_sim FROM r WHERE rank <= 5
         ORDER BY query_id, rank""")),

    // North-star similarity: random-hyperplane LSH bucketing (the cosine
    // analog of the minhash band join) — bucket sizes of the sign-bit
    // signature space.
    Query("sim_hyperplane_lsh", (s, dir) =>
      graft.similarity.HyperplaneLsh
        .buckets(Tables.embeddings(s, dir), nPlanes = 8, dim = 64)
        .groupBy("bucket").agg(count(lit(1)).as("n_vectors"))
        .orderBy("bucket"),
      Some {
      val planeLits = graft.similarity.HyperplaneLsh.planes(8, 64)
        .map(_.map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]"))
      val bits = planeLits.zipWithIndex.map { case (pl, i) =>
        s"CASE WHEN ${duckDot("embedding", pl)} > 0 THEN ${1L << i} ELSE 0 END"
      }.mkString(" + ")
      s"""SELECT bucket, count(*) AS n_vectors FROM (
            SELECT vec_id, CAST($bits AS BIGINT) AS bucket FROM embeddings)
          GROUP BY 1 ORDER BY 1"""
      }),

    // Prune-then-verify over the LSH buckets: candidates share a sign-bit
    // bucket (4 planes here so buckets stay populated), exact cosine
    // verifies — the two-stage shape every at-scale near-dup pass uses.
    Query("sim_hyperplane_neardup", (s, dir) =>
      graft.similarity.HyperplaneLsh
        .nearDupPairs(Tables.embeddings(s, dir), nPlanes = 4, dim = 64,
          minCosine = 0.30)
        .orderBy("vec_a", "vec_b"),
      Some {
      val planeLits = graft.similarity.HyperplaneLsh.planes(4, 64)
        .map(_.map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]"))
      val bits = planeLits.zipWithIndex.map { case (pl, i) =>
        s"CASE WHEN ${duckDot("embedding", pl)} > 0 THEN ${1L << i} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH b AS (SELECT vec_id, embedding, $bits AS bucket
                     FROM embeddings)
          SELECT vec_a, vec_b, cosine FROM (
            SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
                   ${duckDot("a.embedding", "b2.embedding")}
                     / (sqrt(${duckDot("a.embedding", "a.embedding")})
                        * sqrt(${duckDot("b2.embedding", "b2.embedding")}))
                     AS cosine
            FROM b a JOIN b b2 ON a.bucket = b2.bucket
                               AND a.vec_id < b2.vec_id)
          WHERE cosine >= 0.30
          ORDER BY vec_a, vec_b"""
      }),

    // Scalar quantization (SQ8) + asymmetric distance — the 4-byte→1-byte
    // compression tier between full vectors and PQ: per-dimension corpus
    // [lo, hi] bounds (one partial-aggregable pass reduced to a single
    // 2-array row, broadcast), each vector encoded to an 8-bit code per
    // dimension, and queries scored EXACTLY (query stays on the full q16
    // lattice; only the corpus side is compressed — the asymmetric-
    // distance property). Everything lives on integer lattices with
    // explicit floor division, so encode/decode/distance are
    // bitwise-portable; per-query top-k is a keyed window.
    Query("sim_sq8_adc_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), expr("transform(embedding, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT))").as("qa"))
        .tracked
      val bounds = emb
        .select(posexplode(col("qa")).as(Seq("p", "q")))
        .groupBy((col("p") + 1).as("i"))
        .agg(min("q").as("lo"), max("q").as("hi"))
        .groupBy()
        .agg(expr("transform(array_sort(collect_list(named_struct(" +
               "'i', i, 'v', lo))), x -> x.v)").as("lo"),
             expr("transform(array_sort(collect_list(named_struct(" +
               "'i', i, 'v', hi))), x -> x.v)").as("hi"))
      // dq = decode(encode(q)): code_d = ⌊(q−lo)·255 / (hi−lo)⌋ ∈ [0,255],
      // reconstructed back onto the q16 lattice — all operands
      // non-negative, so DIV (truncation) ≡ floor on both engines
      val enc = emb.crossJoin(broadcast(bounds))
        .select(col("vec_id"), expr(
          """transform(sequence(1, size(qa)), d ->
               CASE WHEN element_at(hi, d) = element_at(lo, d)
                    THEN element_at(lo, d)
                    ELSE element_at(lo, d) +
                      ((((element_at(qa, d) - element_at(lo, d)) * 255)
                          DIV (element_at(hi, d) - element_at(lo, d)))
                        * (element_at(hi, d) - element_at(lo, d))) DIV 255
               END)""").as("dq"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("qa").as("qq"))
      val scored = enc
        .join(broadcast(probes), col("query_id") =!= col("vec_id"))
        .withColumn("dist2", expr(
          "aggregate(zip_with(qq, dq, (a, b) -> (a - b) * (a - b)), " +
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("dist2").asc, col("vec_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "dist2")
        .orderBy("query_id", "rank")
    },
      // same q16 lattice, per-dim [lo,hi] bounds, floor-div encode/decode
      // (all operands non-negative, so DuckDB's truncating // ≡ floor)
      Some("""WITH qa AS (SELECT vec_id,
                       list_transform(embedding, x ->
                         CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT))
                         AS qa
                     FROM embeddings),
            dd AS (SELECT unnest(generate_series(1, 64)) AS i),
            b AS (SELECT i, min(qa[i]) AS lo, max(qa[i]) AS hi
                  FROM qa, dd GROUP BY 1),
            ba AS (SELECT list(lo ORDER BY i) AS lo,
                          list(hi ORDER BY i) AS hi FROM b),
            enc AS (SELECT vec_id,
                      list_transform(generate_series(1, len(qa)), d ->
                        CASE WHEN ba.hi[d] = ba.lo[d] THEN ba.lo[d]
                             ELSE ba.lo[d] +
                               ((((qa[d] - ba.lo[d]) * 255)
                                   // (ba.hi[d] - ba.lo[d]))
                                 * (ba.hi[d] - ba.lo[d])) // 255
                        END) AS dq
                    FROM qa, ba),
            pr AS (SELECT vec_id AS query_id, qa AS qq FROM qa
                   WHERE vec_id < 10),
            sc AS (SELECT pr.query_id, e.vec_id,
                     CAST(list_sum(list_transform(
                         generate_series(1, len(e.dq)), k ->
                           (pr.qq[k] - e.dq[k]) * (pr.qq[k] - e.dq[k])))
                       AS BIGINT) AS dist2
                   FROM enc e, pr WHERE pr.query_id <> e.vec_id),
            rk AS (SELECT query_id, vec_id, dist2,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY dist2 ASC, vec_id ASC) AS rank
                   FROM sc)
         SELECT query_id, rank, vec_id, dist2 FROM rk WHERE rank <= 5
         ORDER BY query_id, rank""")),

    // Retrieval-quality scoring: NDCG@10 of the IVF probe against the
    // exact cosine ranking (graded relevance 10…1 over the exact top-10;
    // a probe hit outside it scores 0). Discount weights live on the q20
    // integer lattice — precomputed ONCE in Scala and inlined into both
    // engines (Shared.ndcgWeightsQ20), so every DCG is an exact
    // order-free integer sum and libm-vs-JVM log differences cannot
    // split the engines; IDCG is the constant ideal. recall@k says how
    // many neighbors survive approximation; NDCG says whether the ones
    // that matter most survived — the ranking-aware complement.
    Query("sim_ndcg_eval", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, probes, k = 10)
        .select(col("query_id"), col("vec_id"),
          (lit(11) - col("rank")).cast("long").as("rel"))
      val approx = Similarity.ivfProbeTopK(emb,
          emb.filter(col("vec_id") < 8), probes, nprobe = 2, k = 10)
        .select(col("query_id"), col("rank"), col("vec_id"))
      approx.join(exact, Seq("query_id", "vec_id"), "left")
        .na.fill(0L, Seq("rel"))
        .select(col("query_id"),
          (col("rel") *
            element_at(typedLit(Shared.ndcgWeightsQ20), col("rank")))
            .as("term"),
          when(col("rel") > 0, 1L).otherwise(0L).as("hit"))
        .groupBy("query_id")
        .agg(sum("term").as("dcg_q20"), sum("hit").as("n_overlap"))
        .select(col("query_id"), col("n_overlap"), col("dcg_q20"),
          (col("dcg_q20").cast("double") / lit(Shared.ndcgIdcgQ20.toDouble))
            .as("ndcg"))
        .orderBy("query_id")
    },
      // exact top-10 relevance (11 − rank) joined onto the IVF-probe
      // ranking; q20 weight literals come from the SAME Scala constants
      // the engine uses, so the DCG is one exact integer sum per query
      Some {
      val ws = Shared.ndcgWeightsQ20.mkString("[", ", ", "]")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS eq
                     FROM embeddings WHERE vec_id < 10),
            ex AS (SELECT query_id, vec_id,
                     CAST(11 - row_number() OVER (PARTITION BY query_id
                       ORDER BY ${duckDot("eq", "embedding")}
                         / (sqrt(${duckDot("eq", "eq")})
                            * sqrt(${duckDot("embedding", "embedding")}))
                         DESC, vec_id ASC) AS BIGINT) AS rel
                   FROM q JOIN embeddings ON vec_id <> query_id
                   QUALIFY rel >= 1),
            c AS (SELECT vec_id AS centroid_id, embedding AS ec
                  FROM embeddings WHERE vec_id < 8),
            asg AS (SELECT centroid_id, vec_id, embedding FROM (
                      SELECT e.vec_id, c.centroid_id, e.embedding,
                        row_number() OVER (PARTITION BY e.vec_id ORDER BY
                          ${duckDot("e.embedding", "c.ec")}
                            / (sqrt(${duckDot("e.embedding", "e.embedding")})
                               * sqrt(${duckDot("c.ec", "c.ec")})) DESC,
                          c.centroid_id ASC) AS rn
                      FROM embeddings e CROSS JOIN c)
                    WHERE rn = 1),
            prb AS (SELECT query_id, centroid_id, emb_q FROM (
                      SELECT q2.vec_id AS query_id, c.centroid_id,
                             q2.embedding AS emb_q,
                        row_number() OVER (PARTITION BY q2.vec_id ORDER BY
                          ${duckDot("q2.embedding", "c.ec")}
                            / (sqrt(${duckDot("q2.embedding", "q2.embedding")})
                               * sqrt(${duckDot("c.ec", "c.ec")})) DESC,
                          c.centroid_id ASC) AS rn
                      FROM embeddings q2 CROSS JOIN c WHERE q2.vec_id < 10)
                    WHERE rn <= 2),
            sc AS (SELECT p.query_id, a.vec_id,
                     ${duckDot("p.emb_q", "a.embedding")}
                       / (sqrt(${duckDot("p.emb_q", "p.emb_q")})
                          * sqrt(${duckDot("a.embedding", "a.embedding")}))
                       AS cosine
                   FROM prb p JOIN asg a USING (centroid_id)
                   WHERE a.vec_id <> p.query_id),
            apx AS (SELECT query_id, vec_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, vec_id ASC) AS rank
                    FROM sc QUALIFY rank <= 10),
            ws AS (SELECT $ws AS w),
            t AS (SELECT a.query_id,
                    coalesce(ex.rel, 0) * ws.w[a.rank] AS term,
                    CASE WHEN coalesce(ex.rel, 0) > 0 THEN 1 ELSE 0 END
                      AS hit
                  FROM apx a CROSS JOIN ws
                  LEFT JOIN ex ON ex.query_id = a.query_id
                              AND ex.vec_id = a.vec_id)
         SELECT query_id, CAST(sum(hit) AS BIGINT) AS n_overlap,
                CAST(sum(term) AS BIGINT) AS dcg_q20,
                CAST(CAST(sum(term) AS BIGINT) AS DOUBLE)
                  / ${Shared.ndcgIdcgQ20}.0 AS ndcg
         FROM t GROUP BY 1 ORDER BY query_id"""
      }),

    // Johnson–Lindenstrauss random projection (±1 matrix, the database-
    // friendly JL flavor): 64 dims → 16 exact BIGINT components per
    // vector (y_k = Σ_d s_kd·q_d on the q16 lattice; the deterministic
    // LCG-derived signs are shared with the hyperplane LSH, inlined into
    // the oracle as literals). Output is the distance-preservation audit
    // on the id-bounded pair set: ‖a−b‖² in the original space, in the
    // projected space, and the concentration ratio d2_proj/(k·d2_orig)
    // that the JL lemma pins near 1 — the check run before committing a
    // corpus to a projected index. Projection is a per-row projection
    // (zero shuffle); only the bounded pair frame joins.
    Query("emb_random_projection", (s, dir) => {
      val planes = graft.similarity.HyperplaneLsh.planes(16, 64)
      val y = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 32)
        .select(col("vec_id"), expr("transform(embedding, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT))").as("qa"))
        .withColumn("ya", array(planes.map(p =>
          aggregate(
            zip_with(col("qa"), typedLit(p.map(_.toLong)), (q, sgn) =>
              q * sgn),
            lit(0L), (acc, x) => acc + x)): _*))
      val a = y.select(col("vec_id").as("vec_a"), col("qa").as("qa_a"),
        col("ya").as("ya_a"))
      val b = y.select(col("vec_id").as("vec_b"), col("qa").as("qa_b"),
        col("ya").as("ya_b"))
      def d2(x: String, yc: String) = expr(
        s"aggregate(zip_with($x, $yc, (u, v) -> (u - v) * (u - v)), " +
          "CAST(0 AS BIGINT), (acc, w) -> acc + w)")
      a.join(broadcast(b), col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          d2("qa_a", "qa_b").as("d2_orig"),
          d2("ya_a", "ya_b").as("d2_proj"))
        .withColumn("jl_ratio",
          col("d2_proj").cast("double")
            / (lit(16.0) * col("d2_orig").cast("double")))
        .orderBy("vec_a", "vec_b")
    },
      // the ±1 signs are the engine's deterministic LCG planes, inlined
      Some {
      val planeLits = graft.similarity.HyperplaneLsh.planes(16, 64)
        .map(_.map(v => if (v > 0) "1" else "-1")
          .mkString("[", ", ", "]"))
      val yComps = planeLits.map(pl =>
        s"CAST(list_sum(list_transform(generate_series(1, 64), d -> " +
          s"qa[d] * ($pl)[d])) AS BIGINT)").mkString("[", ", ", "]")
      s"""WITH qa AS (SELECT vec_id,
                        list_transform(embedding, x ->
                          CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT))
                          AS qa
                      FROM embeddings WHERE vec_id < 32),
            y AS (SELECT vec_id, qa, $yComps AS ya FROM qa),
            p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                    CAST(list_sum(list_transform(generate_series(1, 64),
                        d -> (a.qa[d] - b.qa[d]) * (a.qa[d] - b.qa[d])))
                      AS BIGINT) AS d2_orig,
                    CAST(list_sum(list_transform(generate_series(1, 16),
                        k -> (a.ya[k] - b.ya[k]) * (a.ya[k] - b.ya[k])))
                      AS BIGINT) AS d2_proj
                  FROM y a JOIN y b ON a.vec_id < b.vec_id)
          SELECT vec_a, vec_b, d2_orig, d2_proj,
                 CAST(d2_proj AS DOUBLE)
                   / (16.0 * CAST(d2_orig AS DOUBLE)) AS jl_ratio
          FROM p ORDER BY vec_a, vec_b"""
      }),

    // Embedding normalization + int8 quantization (the storage/serving
    // transform ANN shards apply at ingest): L2 norm via the fused dot,
    // per-dimension round(x/norm·127) — all per-row projection, zero
    // shuffle.
    Query("emb_normalize_quantize", (s, dir) => {
      import graft.functions.VecOps
      val e = Tables.embeddings(s, dir)
        .withColumn("norm",
          sqrt(VecOps.dot(col("embedding"), col("embedding"))))
        .filter(col("norm") > 0)
        .withColumn("q", transform(col("embedding"), x =>
          round(x.cast("double") / col("norm") * lit(127.0), 0).cast("int")))
      e.select(col("vec_id"), col("norm"),
          array_min(col("q")).as("q_min"), array_max(col("q")).as("q_max"),
          aggregate(col("q"), lit(0L), (a, x) => a + x.cast("long"))
            .as("q_sum"))
        .orderBy("vec_id")
    },
      Some(s"""WITH n AS (SELECT vec_id, embedding,
                       sqrt(${duckDot("embedding", "embedding")}) AS norm
                     FROM embeddings),
              q AS (SELECT vec_id, norm,
                      list_transform(generate_series(1, len(embedding)),
                        i -> CAST(round(CAST(embedding[i] AS DOUBLE) / norm
                                        * CAST(127 AS DOUBLE), 0) AS INT))
                        AS qs
                    FROM n WHERE norm > 0)
         SELECT vec_id, norm,
                CAST(list_min(qs) AS INT) AS q_min,
                CAST(list_max(qs) AS INT) AS q_max,
                CAST(list_sum(list_transform(qs, x -> CAST(x AS BIGINT)))
                  AS BIGINT) AS q_sum
         FROM q ORDER BY vec_id""")),

    // BPE-style pre-tokenization: maximal letter / digit / punctuation
    // runs (explicit ASCII classes so Java and RE2 agree codepoint for
    // codepoint), with a sequential piece-hash checksum — the
    // deterministic skeleton a real BPE vocabulary merge would refine.
    Query("text_bpe_tokens", (s, dir) => {
      import graft.text.TextAnalysis.{asciiLower, asciiUpper}
      val pieces = regexp_extract_all(
        translate(col("text"), asciiUpper, asciiLower),
        lit("[a-z]+|[0-9]+|[.,;:!?()/_-]+"), lit(0))
      val p = lit(2147483647L)
      Tables.documents(s, dir)
        .withColumn("pieces", pieces)
        .select(col("doc_id"),
          size(col("pieces")).cast("long").as("n_pieces"),
          size(filter(col("pieces"), x => x.rlike("^[a-z]"))).cast("long")
            .as("n_alpha"),
          size(filter(col("pieces"), x => x.rlike("^[0-9]"))).cast("long")
            .as("n_num"),
          aggregate(
            transform(col("pieces"),
              x => graft.functions.CharFold.char_fold_hash(x)),
            lit(0L), (a, h) => pmod(a * 31 + h, p)).as("piece_checksum"))
        .withColumn("n_punct",
          col("n_pieces") - col("n_alpha") - col("n_num"))
        .select("doc_id", "n_pieces", "n_alpha", "n_num", "n_punct",
                "piece_checksum")
        .orderBy("doc_id")
    },
      // identical explicit ASCII classes in both regex engines (Java and
      // RE2 agree codepoint-for-codepoint on these); sequential left fold
      // for the checksum on both sides
      Some("""WITH t AS (SELECT doc_id,
                      regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+|[0-9]+|[.,;:!?()/_-]+') AS pieces
                    FROM documents)
         SELECT doc_id,
                CAST(len(pieces) AS BIGINT) AS n_pieces,
                CAST(len(list_filter(pieces,
                  x -> regexp_matches(x, '^[a-z]'))) AS BIGINT) AS n_alpha,
                CAST(len(list_filter(pieces,
                  x -> regexp_matches(x, '^[0-9]'))) AS BIGINT) AS n_num,
                CAST(len(pieces)
                  - len(list_filter(pieces, x -> regexp_matches(x, '^[a-z]')))
                  - len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]')))
                  AS BIGINT) AS n_punct,
                CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(pieces, tk ->
                    list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(tk, ''),
                        ch -> CAST(ascii(ch) AS BIGINT))),
                      (a, c) -> (a * 31 + c) % 2147483647))),
                  (a, h) -> (a * 31 + h) % 2147483647) AS BIGINT)
                  AS piece_checksum
         FROM t ORDER BY doc_id""")),

    // Asymmetric containment |A∩B|/|A| over token-2-gram sets (bounded
    // exact pairs): catches subset/quotation duplication that symmetric
    // Jaccard under-scores — the other half of the near-dup decision.
    Query("text_ngram_containment", (s, dir) => {
      import graft.dedup.NgramJaccard
      val g = Tables.documents(s, dir).filter(col("doc_id") < 150)
        .select(col("doc_id"),
                NgramJaccard.gram_hashes(col("text"), 2).as("grams"))
      g.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
        .filter(size(col("grams_a")) > 0)
        .join(g.select(col("doc_id").as("doc_b"), col("grams").as("grams_b")),
              col("doc_a") =!= col("doc_b"))
        .withColumn("containment",
          NgramJaccard.intersect_count_sorted(col("grams_a"), col("grams_b"))
            .cast("double") / size(col("grams_a")).cast("double"))
        .filter(col("containment") >= 0.20)
        .select("doc_a", "doc_b", "containment")
        .orderBy("doc_a", "doc_b")
    },
      Some(s"""WITH h AS (SELECT doc_id, $duckTokHashes AS th
                     FROM documents WHERE doc_id < 150),
            g AS (SELECT doc_id,
                         list_distinct(list_transform(
                           generate_series(1, len(th) - 1), i ->
                             (th[i] * 31 + th[i+1]) % 2147483647)) AS grams
                  FROM h)
         SELECT doc_a, doc_b, containment FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / CAST(len(a.grams) AS DOUBLE) AS containment
           FROM g a JOIN g b ON a.doc_id <> b.doc_id
           WHERE len(a.grams) > 0)
         WHERE containment >= 0.20
         ORDER BY doc_a, doc_b""")),

    // Corpus TF-IDF with a RATIONAL idf (tf·N/df — no ln(), which is not
    // bit-portable across libm builds): document frequency over the full
    // corpus (one token shuffle), term frequency only for the output
    // slice, top-3 terms per document via keyed window. The weighting
    // every retrieval/quality pipeline starts from.
    Query("text_tfidf_topk", (s, dir) => {
      import graft.text.TextAnalysis
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens("text")).as("token"))
      val tf = toks.filter(col("doc_id") < 100)
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = toks.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token").asc)
      tf.join(dfreq, "token").crossJoin(broadcast(n))
        .withColumn("tfidf", col("tf").cast("double")
          * col("n_docs").cast("double") / col("df").cast("double"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("doc_id", "rk", "token", "tfidf")
        .orderBy("doc_id", "rk")
    },
      Some("""WITH toks AS (SELECT doc_id,
                         unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS token
                       FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
                     WHERE doc_id < 100 GROUP BY 1, 2),
              df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks
                     GROUP BY 1),
              n AS (SELECT count(*) AS n_docs FROM documents),
              sc AS (SELECT doc_id, tf.token AS token,
                       CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE)
                         / CAST(df AS DOUBLE) AS tfidf
                     FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
              r AS (SELECT doc_id, token, tfidf,
                      CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY tfidf DESC, token ASC) AS BIGINT) AS rk
                    FROM sc)
         SELECT doc_id, rk, token, tfidf FROM r WHERE rk <= 3
         ORDER BY doc_id, rk""")),

    // Token co-occurrence mining: top pairs of long tokens (length ≥ 4,
    // the noise bound) appearing in the same document. Document-level
    // DISTINCT token sets first (so a pair counts once per doc), then a
    // keyed self-join on doc_id with a < b — pair volume is Σ C(k_doc, 2),
    // bounded by document length exactly like the co-purchase edge gen,
    // never corpus-quadratic. Deterministic (n_docs desc, a, b) top-30
    // boundary. The collocation signal behind phrase mining and
    // compound-token vocabulary induction.
    Query("text_cooccurrence_topk", (s, dir) => {
      // pair generation (Σ C(k_doc, 2) rows) is the CPU-dense stage, and
      // AQE coalesces the tiny post-distinct shuffle to ~1 partition at
      // test SF — pin the token sets to an explicit doc_id-hash layout
      // and cache, so BOTH self-join sides reuse one exchange and the
      // pair work spreads across the full core count (same plan a
      // many-file production scan would produce naturally)
      val n = s.sparkContext.defaultParallelism
      val tk = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .repartition(n) // single-row-group fixture scan = 1 task; spread
        .select(col("doc_id"),
                explode(graft.text.TextAnalysis.tokens("text")).as("token"))
        .filter(length(col("token")) >= 4)
        .distinct()
        .repartition(n, col("doc_id"))
        .tracked
      tk.select(col("doc_id"), col("token").as("tok_a")).as("a")
        .join(tk.select(col("doc_id"), col("token").as("tok_b")).as("b"),
              Seq("doc_id"))
        .filter(col("tok_a") < col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("tok_a"), col("tok_b"))
        .limit(30)
    },
      Some("""WITH tk AS (SELECT DISTINCT doc_id, t AS token FROM (
                       SELECT doc_id,
                              unnest(regexp_extract_all(translate(text,
                                'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                'abcdefghijklmnopqrstuvwxyz'),
                                '[a-z0-9]+')) AS t
                       FROM documents)
                     WHERE length(t) >= 4)
         SELECT a.token AS tok_a, b.token AS tok_b, count(*) AS n_docs
         FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND a.token < b.token
         GROUP BY 1, 2
         ORDER BY n_docs DESC, tok_a, tok_b LIMIT 30""")),

    // Duplicate-rate report by source: the per-origin contamination view
    // over the SAME normalization key as dedup_normalized (fold case,
    // collapse whitespace), so the numbers reconcile with the global
    // dedup. One scan, one partial-aggregable groupBy; the distinct
    // count is per (source, norm) — no global distinct state.
    Query("dedup_rate_by_source", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"),
          trim(regexp_replace(
            translate(col("text"), TextAnalysis.asciiUpper,
              TextAnalysis.asciiLower),
            "[ \\t\\n\\r\\f\\x0B]+", " ")).as("norm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             count_distinct(col("norm")).as("n_distinct"))
        .withColumn("n_dupes", col("n_docs") - col("n_distinct"))
        .withColumn("dup_rate",
          col("n_dupes").cast("double") / col("n_docs").cast("double"))
        .orderBy("source"),
      Some("""WITH n AS (SELECT source,
                           trim(regexp_replace(translate(text,
                             'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                             'abcdefghijklmnopqrstuvwxyz'),
                             '[ \t\n\r\f\x0B]+', ' ', 'g')) AS norm
                    FROM documents)
         SELECT source, count(*) AS n_docs,
                count(DISTINCT norm) AS n_distinct,
                count(*) - count(DISTINCT norm) AS n_dupes,
                CAST(count(*) - count(DISTINCT norm) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS dup_rate
         FROM n GROUP BY 1 ORDER BY source""")),

    // 3 fixed power-iteration rounds toward the top eigenvector of the
    // 64×64 dimension-correlation matrix (PCA's first component — the
    // embedding-drift direction). Two-tier plan matching the data's two
    // tiers: the CORPUS-sized gram pass is one join-free codegen
    // projection (every upper-triangle product emitted per row — the
    // corpus is scanned once and never shuffled; the only exchange
    // carries ≤ d·(d+1)/2 partial-agg cells) and the DIMENSION-bounded
    // 64×64 iteration folds on the driver with exact checked Long
    // arithmetic — the same rule every lattice path here follows
    // (collect only what is bounded by schema, never by data). The
    // matrix entries are quantized once (floor(corr·2²⁰)); each round
    // renormalizes to a ±4096 lattice with explicit FLOOR division
    // (truncation would diverge from the oracle on negatives).
    Query("emb_power_iteration", (s, dir) => {
      // gram build shared with emb_pca_deflation (corrMatrixQ20); the
      // 3-round fold here stays on checked Longs (q20 entries never
      // overflow; BigInt exists for the deflated matrix's ~1e24 range)
      val (dimCount, m) = corrMatrixQ20(s, dir)
      var v = Array.fill(dimCount + 1)(4096L)
      for (_ <- 1 to 3) {
        val x = (0 to dimCount).map(i => (1 to dimCount).foldLeft(0L)((a, j)
          => Math.addExact(a, Math.multiplyExact(m(i)(j), v(j))))).toArray
        val mx = (1 to dimCount).map(i => math.abs(x(i))).max
        v = x.map(xi => Math.floorDiv(Math.multiplyExact(xi, 4096L), mx))
      }
      import s.implicits._
      (1 to dimCount).map(i => (i.toLong, v(i))).toDF("dim", "v3")
        .orderBy("dim")
    },
      // the same quantized correlation matrix as emb_dim_correlation,
      // then 3 unrolled matvec + floor-renormalize rounds (DuckDB //
      // TRUNCATES on negatives, so the oracle spells out the same
      // explicit floor formula the engine uses)
      Some("""WITH dims AS (SELECT vec_id, i,
                        CAST(floor(CAST(embedding[i] AS DOUBLE) * 65536)
                          AS BIGINT) AS q
                      FROM (SELECT vec_id, embedding,
                              unnest(generate_series(1, 64)) AS i
                            FROM embeddings)),
              st AS (SELECT i, count(*) AS n, sum(q) AS s,
                       sum(q * q) AS ss
                     FROM dims GROUP BY 1),
              pr AS (SELECT a.i AS i, b.i AS j,
                       CAST(sum(a.q * b.q) AS BIGINT) AS sp
                     FROM dims a JOIN dims b ON a.vec_id = b.vec_id
                     WHERE a.i < b.i GROUP BY 1, 2),
              up AS (SELECT pr.i, pr.j,
                       CAST(floor(
                         ((CAST(si.n AS DOUBLE) * CAST(sp AS DOUBLE)
                           - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE))
                          / (sqrt(CAST(si.n AS DOUBLE)
                                    * CAST(si.ss AS DOUBLE)
                                  - CAST(si.s AS DOUBLE)
                                    * CAST(si.s AS DOUBLE))
                             * sqrt(CAST(si.n AS DOUBLE)
                                      * CAST(sj.ss AS DOUBLE)
                                    - CAST(sj.s AS DOUBLE)
                                      * CAST(sj.s AS DOUBLE))))
                         * 1048576) AS BIGINT) AS cq
                     FROM pr JOIN st si ON pr.i = si.i
                             JOIN st sj ON pr.j = sj.i),
              m AS (SELECT i, j, cq FROM up
                    UNION ALL SELECT j, i, cq FROM up
                    UNION ALL SELECT i, i, CAST(1048576 AS BIGINT) FROM st),
              v0 AS (SELECT i AS j, CAST(4096 AS BIGINT) AS v FROM st),
              x1 AS (SELECT m.i, CAST(sum(m.cq * v0.v) AS BIGINT) AS x
                     FROM m JOIN v0 ON v0.j = m.j GROUP BY 1),
              m1 AS (SELECT max(abs(x)) AS mx FROM x1),
              v1 AS (SELECT i AS j, (x * 4096 - (((x * 4096) % mx) + mx) % mx) // mx AS v FROM x1, m1),
              x2 AS (SELECT m.i, CAST(sum(m.cq * v1.v) AS BIGINT) AS x
                     FROM m JOIN v1 ON v1.j = m.j GROUP BY 1),
              m2 AS (SELECT max(abs(x)) AS mx FROM x2),
              v2 AS (SELECT i AS j, (x * 4096 - (((x * 4096) % mx) + mx) % mx) // mx AS v FROM x2, m2),
              x3 AS (SELECT m.i, CAST(sum(m.cq * v2.v) AS BIGINT) AS x
                     FROM m JOIN v2 ON v2.j = m.j GROUP BY 1),
              m3 AS (SELECT max(abs(x)) AS mx FROM x3),
              v3 AS (SELECT i AS j, (x * 4096 - (((x * 4096) % mx) + mx) % mx) // mx AS v FROM x3, m3)
         SELECT j AS dim, v AS v3 FROM v3 ORDER BY dim""")),

    // Second principal direction via DEFLATION — completes the spectral
    // family: after the first component v (the emb_power_iteration
    // fold, bitwise-identical here through exact BigInt arithmetic),
    // the projector is removed on the integer lattice —
    //   M₂ = M·D² − N·v vᵀ   with N = vᵀMv, D = vᵀv
    // (all EXACT integers; entries reach ~1e24 so the fold runs on
    // BigInt / HUGEINT on the two engines) — and three more ±4096
    // lattice rounds extract the deflated dominant direction. Same
    // scale posture as the first component: one corpus-sized codegen
    // gram pass, everything after is the dimension-bounded driver fold.
    Query("emb_pca_deflation", (s, dir) => {
      val (dimCount, mL) = corrMatrixQ20(s, dir)
      val m = mL.map(_.map(BigInt(_)))
      val v = latticeIterate3(dimCount, m)
      val dBig = (1 to dimCount).map(i => v(i) * v(i)).sum
      val nBig = (for (i <- 1 to dimCount; j <- 1 to dimCount)
        yield v(i) * m(i)(j) * v(j)).sum
      val m2 = Array.tabulate(dimCount + 1, dimCount + 1)((i, j) =>
        if (i == 0 || j == 0) BigInt(0)
        else m(i)(j) * dBig * dBig - nBig * v(i) * v(j))
      val w = latticeIterate3(dimCount, m2)
      import s.implicits._
      (1 to dimCount).map(i => (i.toLong, v(i).toLong, w(i).toLong))
        .toDF("dim", "v3", "w3")
        .orderBy("dim")
    },
      // the emb_power_iteration chain, then the lattice deflation
      // M₂ = M·D² − N·v vᵀ on HUGEINT (entries ~1e24) and three more
      // renormalized rounds — see the query comment
      Some("""WITH dims AS (SELECT vec_id, i,
                        CAST(floor(CAST(embedding[i] AS DOUBLE) * 65536)
                          AS BIGINT) AS q
                      FROM (SELECT vec_id, embedding,
                              unnest(generate_series(1, 64)) AS i
                            FROM embeddings)),
              st AS (SELECT i, count(*) AS n, sum(q) AS s,
                       sum(q * q) AS ss
                     FROM dims GROUP BY 1),
              pr AS (SELECT a.i AS i, b.i AS j,
                       CAST(sum(a.q * b.q) AS BIGINT) AS sp
                     FROM dims a JOIN dims b ON a.vec_id = b.vec_id
                     WHERE a.i < b.i GROUP BY 1, 2),
              up AS (SELECT pr.i, pr.j,
                       CAST(floor(
                         ((CAST(si.n AS DOUBLE) * CAST(sp AS DOUBLE)
                           - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE))
                          / (sqrt(CAST(si.n AS DOUBLE)
                                    * CAST(si.ss AS DOUBLE)
                                  - CAST(si.s AS DOUBLE)
                                    * CAST(si.s AS DOUBLE))
                             * sqrt(CAST(si.n AS DOUBLE)
                                      * CAST(sj.ss AS DOUBLE)
                                    - CAST(sj.s AS DOUBLE)
                                      * CAST(sj.s AS DOUBLE))))
                         * 1048576) AS BIGINT) AS cq
                     FROM pr JOIN st si ON pr.i = si.i
                             JOIN st sj ON pr.j = sj.i),
              m AS (SELECT i, j, cq FROM up
                    UNION ALL SELECT j, i, cq FROM up
                    UNION ALL SELECT i, i, CAST(1048576 AS BIGINT) FROM st),
              v0 AS (SELECT i AS j, CAST(4096 AS BIGINT) AS v FROM st),
              x1 AS (SELECT m.i, CAST(sum(m.cq * v0.v) AS BIGINT) AS x
                     FROM m JOIN v0 ON v0.j = m.j GROUP BY 1),
              m1 AS (SELECT max(abs(x)) AS mx FROM x1),
              v1 AS (SELECT i AS j, (x * 4096 - (((x * 4096) % mx) + mx) % mx) // mx AS v FROM x1, m1),
              x2 AS (SELECT m.i, CAST(sum(m.cq * v1.v) AS BIGINT) AS x
                     FROM m JOIN v1 ON v1.j = m.j GROUP BY 1),
              m2 AS (SELECT max(abs(x)) AS mx FROM x2),
              v2 AS (SELECT i AS j, (x * 4096 - (((x * 4096) % mx) + mx) % mx) // mx AS v FROM x2, m2),
              x3 AS (SELECT m.i, CAST(sum(m.cq * v2.v) AS BIGINT) AS x
                     FROM m JOIN v2 ON v2.j = m.j GROUP BY 1),
              m3 AS (SELECT max(abs(x)) AS mx FROM x3),
              v3 AS (SELECT i AS j, (x * 4096 - (((x * 4096) % mx) + mx) % mx) // mx AS v FROM x3, m3),
              dd AS (SELECT sum(CAST(v AS HUGEINT) * v) AS d FROM v3),
              nn AS (SELECT sum(CAST(vi.v AS HUGEINT) * m.cq * vj.v) AS nu
                     FROM m JOIN v3 vi ON vi.j = m.i
                            JOIN v3 vj ON vj.j = m.j),
              md AS (SELECT m.i, m.j,
                       CAST(m.cq AS HUGEINT) * dd.d * dd.d
                         - nn.nu * vi.v * vj.v AS cq2
                     FROM m JOIN v3 vi ON vi.j = m.i
                            JOIN v3 vj ON vj.j = m.j
                     CROSS JOIN dd CROSS JOIN nn),
              w0 AS (SELECT i AS j, CAST(4096 AS HUGEINT) AS v FROM st),
              y1 AS (SELECT md.i, sum(md.cq2 * w0.v) AS x
                     FROM md JOIN w0 ON w0.j = md.j GROUP BY 1),
              n1 AS (SELECT max(abs(x)) AS mx FROM y1),
              w1 AS (SELECT i AS j, (x * 4096 - (((x * 4096) % mx) + mx) % mx) // mx AS v FROM y1, n1),
              y2 AS (SELECT md.i, sum(md.cq2 * w1.v) AS x
                     FROM md JOIN w1 ON w1.j = md.j GROUP BY 1),
              n2 AS (SELECT max(abs(x)) AS mx FROM y2),
              w2 AS (SELECT i AS j, (x * 4096 - (((x * 4096) % mx) + mx) % mx) // mx AS v FROM y2, n2),
              y3 AS (SELECT md.i, sum(md.cq2 * w2.v) AS x
                     FROM md JOIN w2 ON w2.j = md.j GROUP BY 1),
              n3 AS (SELECT max(abs(x)) AS mx FROM y3),
              w3c AS (SELECT i AS j, (x * 4096 - (((x * 4096) % mx) + mx) % mx) // mx AS v FROM y3, n3)
         SELECT v3.j AS dim, CAST(v3.v AS BIGINT) AS v3,
                CAST(w3c.v AS BIGINT) AS w3
         FROM v3 JOIN w3c ON w3c.j = v3.j ORDER BY dim""")),

    // Estimator quality as a first-class query: precision/recall of the
    // MinHash-LSH near-dup pipeline against exact shingle Jaccard ≥ 0.5
    // on the declared id-bounded range (the same bound every exact-pairs
    // ground truth in this engine uses — the all-pairs side is the
    // oracle, never the production path). The shingle chain is shared
    // bit-for-bit between the LSH signatures and the exact sets
    // (gram_hashes(3) ≡ the signature shingles), so this measures
    // exactly the banding+estimation loss, nothing else.
    Query("dedup_lsh_quality", (s, dir) => {
      import graft.dedup.{MinHash, NgramJaccard}
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
      val lsh = MinHash.nearDupPairs(docs, "doc_id", "text",
          k = 16, r = 4, minEstJaccard = 0.5)
        .select(col("doc_a"), col("doc_b")).tracked
      val g = docs.select(col("doc_id"),
          NgramJaccard.gram_hashes(col("text"), 3).as("gr"))
        .filter(size(col("gr")) > 0)
      val exact = g.select(col("doc_id").as("doc_a"), col("gr").as("ga"))
        .join(g.select(col("doc_id").as("doc_b"), col("gr").as("gb")),
              col("doc_a") < col("doc_b"))
        .filter(NgramJaccard.jaccard_sorted(col("ga"), col("gb")) >= 0.5)
        .select(col("doc_a"), col("doc_b")).tracked
      val tp = lsh.join(exact, Seq("doc_a", "doc_b"), "leftsemi")
        .agg(count(lit(1)).as("tp"))
      lsh.agg(count(lit(1)).as("n_lsh"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .crossJoin(tp)
        .select(col("n_lsh"), col("n_exact"), col("tp"),
          (col("n_lsh") - col("tp")).as("fp"),
          (col("n_exact") - col("tp")).as("fn"),
          when(col("n_lsh") > 0,
            col("tp").cast("double") / col("n_lsh").cast("double"))
            .as("precision"),
          when(col("n_exact") > 0,
            col("tp").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    },
      // the LSH side is the dedup_minhash_lsh oracle restricted to the id
      // bound; the exact side is all-pairs Jaccard over the SAME distinct
      // shingle sets
      Some {
      val k = 16; val r = 4
      val as = (0 until k).map(MinHash.coeffA).mkString("[", ", ", "]")
      val bs = (0 until k).map(MinHash.coeffB).mkString("[", ", ", "]")
      s"""WITH h AS (SELECT doc_id, $duckTokHashes AS th FROM documents
                     WHERE doc_id < 200),
            sh AS (SELECT doc_id,
                     list_transform(generate_series(1, len(th) - 2), i ->
                       ((th[i] * 31 + th[i+1]) * 31 + th[i+2]) % 2147483647) AS s
                   FROM h WHERE len(th) >= 3),
            es AS (SELECT doc_id, list_distinct(s) AS gs FROM sh),
            ex AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
                   FROM es x JOIN es y ON x.doc_id < y.doc_id
                   WHERE CAST(len(list_intersect(x.gs, y.gs)) AS DOUBLE)
                         / CAST(len(x.gs) + len(y.gs)
                                - len(list_intersect(x.gs, y.gs))
                                AS DOUBLE) >= 0.5),
            sg AS (SELECT doc_id,
                     list_transform(generate_series(1, $k), i ->
                       list_min(list_transform(s, x ->
                         ($as[i] * x + $bs[i]) % 2147483647))) AS sig
                   FROM sh),
            bd AS (SELECT doc_id, sig,
                     list_transform(generate_series(0, ${k / r - 1}), b ->
                       list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(generate_series(1, $r), j ->
                             sig[b * $r + j])),
                         (h, x) -> (h * 31 + x) % 2147483647)) AS bands
                   FROM sg),
            bk AS (SELECT doc_id, sig,
                          unnest(bands) AS key,
                          unnest(generate_series(1, len(bands))) AS band
                   FROM bd),
            cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                            x.sig AS sig_a, y.sig AS sig_b
                     FROM bk x JOIN bk y
                       ON x.band = y.band AND x.key = y.key
                          AND x.doc_id < y.doc_id),
            lshp AS (SELECT doc_a, doc_b FROM cand
                     WHERE CAST(len(list_filter(generate_series(1, $k),
                             i -> sig_a[i] = sig_b[i])) AS DOUBLE) / $k.0
                           >= 0.5),
            nl AS (SELECT count(*) AS n_lsh FROM lshp),
            ne AS (SELECT count(*) AS n_exact FROM ex),
            tp AS (SELECT count(*) AS tp FROM lshp
                   JOIN ex ON ex.doc_a = lshp.doc_a
                          AND ex.doc_b = lshp.doc_b)
          SELECT nl.n_lsh, ne.n_exact, tp.tp,
                 nl.n_lsh - tp.tp AS fp, ne.n_exact - tp.tp AS fn,
                 CASE WHEN nl.n_lsh > 0 THEN
                   CAST(tp.tp AS DOUBLE) / CAST(nl.n_lsh AS DOUBLE)
                 END AS precision,
                 CASE WHEN ne.n_exact > 0 THEN
                   CAST(tp.tp AS DOUBLE) / CAST(ne.n_exact AS DOUBLE)
                 END AS recall
          FROM nl, ne, tp"""
      }),

    // Feature hashing (the hashing-trick embedding): every token routed
    // to one of 64 dimensions by the portable char-fold hash, signed by
    // the next hash bit, summed per (doc, dim) — the fixed-width
    // document vector a linear probe trains on, with NO vocabulary state
    // at any scale. One explode + one partial-aggregable groupBy;
    // zero-weight cells (sign cancellation) drop out.
    Query("text_feature_hashing", (s, dir) =>
      // pinned tokenized corpus (§2.4; r11 — the pinned build carries
      // the spread-before-tokenize this query used to do itself; cpu
      // flat, one fewer tokenize per run)
      Shared.corpusTokens(s, dir)
        .select(col("doc_id"), col("w").as("tok"))
        .select(col("doc_id"),
          graft.functions.CharFold.char_fold_hash(col("tok")).as("h"))
        .select(col("doc_id"), (col("h") % 64).as("dim"),
          when(expr("(h DIV 64) % 2") === 0, 1L).otherwise(-1L).as("sgn"))
        .groupBy("doc_id", "dim")
        .agg(sum(col("sgn")).as("weight"))
        .filter(col("weight") =!= 0L)
        .orderBy("doc_id", "dim"),
      Some {
      val th =
        "list_transform(regexp_extract_all(translate(text, " +
        "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), " +
        "'[a-z0-9]+'), t -> list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS " +
        "BIGINT))), (h, c) -> (h * 31 + c) % 2147483647))"
      s"""WITH t AS (SELECT doc_id, unnest($th) AS h FROM documents),
              w AS (SELECT doc_id, h % 64 AS dim,
                           CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END
                             AS sgn
                    FROM t)
         SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS weight
         FROM w GROUP BY 1, 2
         HAVING sum(sgn) <> 0
         ORDER BY doc_id, dim"""
      }),

    // Heaps-law vocabulary growth: cumulative corpus tokens vs cumulative
    // DISTINCT vocabulary at 50-doc checkpoints. Each token's vocabulary
    // contribution is its FIRST document (one partial-aggregable min —
    // the first-occurrence trick, no running-distinct state), and both
    // cumulatives come from the two-level distributed prefix sum — no
    // window over anything data-sized. The diminishing-returns curve
    // behind corpus-size planning.
    Query("text_vocab_growth", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
                explode(graft.text.TextAnalysis.tokens("text")).as("token"))
      val tokCounts = toks
        .groupBy(expr("doc_id DIV 50").as("bucket"))
        .agg(count(lit(1)).as("n_tok"))
      val vocCounts = toks.groupBy("token")
        .agg(min(col("doc_id")).as("first_doc"))
        .groupBy(expr("first_doc DIV 50").as("bucket"))
        .agg(count(lit(1)).as("n_voc"))
      val joined = tokCounts.join(vocCounts, Seq("bucket"), "left")
        .select(col("bucket"), col("n_tok"),
                coalesce(col("n_voc"), lit(0L)).as("n_voc"))
      val c1 = graft.text.Packing.withStreamOffset(
        joined, "bucket", "n_tok", "ct0", bucketSize = 16L)
      graft.text.Packing.withStreamOffset(
          c1, "bucket", "n_voc", "cv0", bucketSize = 16L)
        .select(col("bucket"),
          (col("ct0") + col("n_tok")).as("cum_tokens"),
          (col("cv0") + col("n_voc")).as("cum_vocab"))
        .withColumn("ttr", col("cum_vocab").cast("double")
          / col("cum_tokens").cast("double"))
        .orderBy("bucket")
    },
      Some("""WITH toks AS (SELECT doc_id,
                              unnest(regexp_extract_all(translate(text,
                                'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                'abcdefghijklmnopqrstuvwxyz'),
                                '[a-z0-9]+')) AS token
                       FROM documents),
              tc AS (SELECT doc_id // 50 AS bucket, count(*) AS n_tok
                     FROM toks GROUP BY 1),
              fo AS (SELECT token, min(doc_id) AS first_doc FROM toks
                     GROUP BY 1),
              vc AS (SELECT first_doc // 50 AS bucket, count(*) AS n_voc
                     FROM fo GROUP BY 1),
              j AS (SELECT tc.bucket, tc.n_tok,
                           coalesce(vc.n_voc, 0) AS n_voc
                    FROM tc LEFT JOIN vc ON vc.bucket = tc.bucket),
              c AS (SELECT bucket,
                           sum(n_tok) OVER (ORDER BY bucket) AS cum_tokens,
                           sum(n_voc) OVER (ORDER BY bucket) AS cum_vocab
                    FROM j)
         SELECT bucket, CAST(cum_tokens AS BIGINT) AS cum_tokens,
                CAST(cum_vocab AS BIGINT) AS cum_vocab,
                CAST(cum_vocab AS DOUBLE) / CAST(cum_tokens AS DOUBLE)
                  AS ttr
         FROM c ORDER BY bucket""")),

    // Sentence segmentation stats: split on [.!?]+ runs, count non-empty
    // trimmed segments, exact character tallies — the doc-shape signal
    // (avg sentence length) quality filters threshold on. Identical
    // regex semantics mirrored in the oracle via regexp_split + filter.
    Query("text_sentence_stats", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          filter(transform(split(col("text"), "[.!?]+"),
                           x => trim(x)),
                 x => length(x) > 0).as("sents"))
        .select(col("doc_id"), size(col("sents")).cast("long")
            .as("n_sentences"),
          coalesce(aggregate(col("sents"), lit(0L),
            (a, x) => a + length(x)), lit(0L)).as("n_sent_chars"))
        .withColumn("avg_sent_len",
          when(col("n_sentences") > 0,
            col("n_sent_chars").cast("double")
              / col("n_sentences").cast("double")))
        .orderBy("doc_id"),
      Some("""WITH s AS (SELECT doc_id,
                           list_filter(list_transform(
                             regexp_split_to_array(text, '[.!?]+'),
                             x -> trim(x)), x -> length(x) > 0) AS sents
                    FROM documents)
         SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
                CAST(coalesce(list_sum(list_transform(sents,
                  x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT)
                  AS n_sent_chars,
                CASE WHEN len(sents) > 0 THEN
                  CAST(coalesce(list_sum(list_transform(sents,
                    x -> CAST(length(x) AS BIGINT))), 0) AS DOUBLE)
                    / CAST(len(sents) AS DOUBLE)
                END AS avg_sent_len
         FROM s ORDER BY doc_id""")),

    // Simpson diversity of the token distribution per language: the
    // probability two random tokens coincide, D = Σ n_i(n_i−1) / (N(N−1))
    // — the repetition/diversity score a corpus-mix dashboard tracks next
    // to Heaps' law. Exact integer numerator in DECIMAL(38,0) (tf² sums
    // overflow BIGINT at corpus scale), one final division; two
    // partial-aggregable groupBys, no window at all.
    Query("text_simpson_diversity", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      Tables.documents(s, dir)
        .select(col("lang"), explode(TextAnalysis.tokens("text")).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("tf"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_types"),
             sum("tf").as("n_tokens"),
             Exact.checkedLong(
               sum(dec(col("tf")) * (dec(col("tf")) - lit(1L))))
               .as("rep_pairs"))
        .withColumn("simpson",
          when(col("n_tokens") > 1L,
            col("rep_pairs").cast("double")
              / (dec(col("n_tokens")) * dec(col("n_tokens") - 1L))
                  .cast("double")))
        .orderBy("lang")
    },
      Some("""WITH f AS (SELECT lang, token, count(*) AS tf FROM (
                SELECT lang, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS token
                FROM documents) GROUP BY 1, 2)
         SELECT lang, count(*) AS n_types,
                CAST(sum(tf) AS BIGINT) AS n_tokens,
                CAST(sum(CAST(tf AS HUGEINT) * (tf - 1)) AS BIGINT)
                  AS rep_pairs,
                CASE WHEN sum(tf) > 1 THEN
                  CAST(CAST(sum(CAST(tf AS HUGEINT) * (tf - 1))
                       AS BIGINT) AS DOUBLE)
                    / CAST(CAST(CAST(sum(tf) AS HUGEINT)
                           * (CAST(sum(tf) AS HUGEINT) - 1)
                           AS BIGINT) AS DOUBLE)
                END AS simpson
         FROM f GROUP BY lang ORDER BY lang""")),

    // BM25 retrieval scoring for the query {scan, join, window} — tf
    // saturation (k1=1.2) + length normalization (b=0.75), with the
    // RATIONAL idf substitute (N−df+1)/(df+1) the tfidf operator
    // established (ln() is not bit-portable across libm builds). Doc
    // length enters as the exact integer len·N over total tokens T, so
    // the whole per-term score is one fixed IEEE chain; the ≤3 per-doc
    // term scores combine in a FIXED fold order (sort_array→aggregate).
    // Top-10 docs via TakeOrderedAndProject, never a full sort.
    Query("text_bm25_topk", (s, dir) => {
      val terms = Seq("scan", "join", "window")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.tokens("text"))
          .as("token"))
        .tracked // doc lengths, df, tf all read it
      val lens = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val dfreq = toks.filter(col("token").isin(terms: _*))
        .select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
      val tf = toks.filter(col("token").isin(terms: _*))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val tot = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
        .crossJoin(toks.agg(count(lit(1)).as("t_tokens")))
      val scored = tf.join(lens, "doc_id").join(broadcast(dfreq), "token")
        .crossJoin(broadcast(tot))
        .withColumn("s",
          ((col("n_docs") - col("df") + 1).cast("double")
             / (col("df") + 1).cast("double"))
          * (col("tf").cast("double") * lit(2.2)
             / (col("tf").cast("double")
                + lit(1.2) * (lit(0.25) + lit(0.75)
                  * ((col("len") * col("n_docs")).cast("double")
                     / col("t_tokens").cast("double"))))))
      scored.groupBy("doc_id")
        .agg(max("len").as("len"),
          aggregate(sort_array(collect_list(struct(col("token"), col("s")))),
            lit(0.0), (a, x) => a + x.getField("s")).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10)
    },
      Some("""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS token
                       FROM documents),
              lens AS (SELECT doc_id, count(*) AS len FROM toks
                       GROUP BY 1),
              dfq AS (SELECT token, count(DISTINCT doc_id) AS df
                      FROM toks
                      WHERE token IN ('scan', 'join', 'window')
                      GROUP BY 1),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
                     WHERE token IN ('scan', 'join', 'window')
                     GROUP BY 1, 2),
              tot AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                             (SELECT count(*) FROM toks) AS t_tokens),
              sc AS (SELECT tf.doc_id, tf.token, lens.len,
                            (CAST(tot.n_docs - dfq.df + 1 AS DOUBLE)
                               / CAST(dfq.df + 1 AS DOUBLE))
                            * (CAST(tf.tf AS DOUBLE) * 2.2
                               / (CAST(tf.tf AS DOUBLE)
                                  + 1.2 * (0.25 + 0.75
                                    * (CAST(lens.len * tot.n_docs
                                            AS DOUBLE)
                                       / CAST(tot.t_tokens AS DOUBLE)))))
                              AS s
                     FROM tf
                     JOIN lens ON lens.doc_id = tf.doc_id
                     JOIN dfq ON dfq.token = tf.token
                     CROSS JOIN tot)
         SELECT doc_id, CAST(max(len) AS BIGINT) AS len,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(list_sort(list(struct_pack(
                    token := token, s := s))), x -> x.s)),
                  (a, b) -> a + b) AS bm25
         FROM sc GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT 10""")),

    // Token burstiness: variance-to-mean ratio of a token's per-document
    // count across its language's corpus (zeros included analytically —
    // absent docs add nothing to Σx or Σx², so the exact moments
    // D·Σx²−(Σx)² need only the docs that CONTAIN the token). Bursty
    // content words (VMR ≫ 1) vs evenly-spread function words is the
    // classic keyword signal. Top-20 per language by (tf desc, token)
    // through a keyed window over the aggregate, never the raw tokens.
    Query("text_burstiness", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val W = org.apache.spark.sql.expressions.Window
      val perDoc = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
                explode(TextAnalysis.tokens("text")).as("token"))
        .groupBy("lang", "doc_id", "token").agg(count(lit(1)).as("c"))
      val nDocs = Tables.documents(s, dir)
        .groupBy("lang").agg(count(lit(1)).as("nd"))
      val tok = perDoc.groupBy("lang", "token")
        .agg(sum("c").as("tf"), count(lit(1)).as("n_docs_with"),
             sum(dec(col("c")) * dec(col("c"))).as("sxx"))
        .withColumn("rnk", row_number().over(
          W.partitionBy("lang").orderBy(col("tf").desc, col("token"))))
        .filter(col("rnk") <= 20)
      tok.join(broadcast(nDocs), "lang")
        // a 1-doc language has no across-doc variance: null, not 0/0
        .select(col("lang"), col("token"), col("tf"), col("n_docs_with"),
          when(col("nd") > 1L,
            ((dec(col("nd")) * col("sxx") - dec(col("tf")) * dec(col("tf")))
               .cast("double")
             / ((dec(col("nd")) - lit(1L)) * dec(col("tf"))).cast("double")))
            .as("vmr"))
        .orderBy(col("lang"), col("tf").desc, col("token"))
    },
      Some("""WITH pd AS (SELECT lang, doc_id, token, count(*) AS c FROM (
                SELECT lang, doc_id, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS token
                FROM documents) GROUP BY 1, 2, 3),
              nd AS (SELECT lang, count(*) AS nd FROM documents
                     GROUP BY 1),
              tok AS (SELECT lang, token, CAST(sum(c) AS BIGINT) AS tf,
                             count(*) AS n_docs_with,
                             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT)
                               AS sxx
                      FROM pd GROUP BY 1, 2),
              top AS (SELECT *, row_number() OVER (PARTITION BY lang
                        ORDER BY tf DESC, token) AS rnk
                      FROM tok)
         SELECT t.lang, t.token, t.tf, t.n_docs_with,
                CASE WHEN nd.nd > 1 THEN
                  CAST(CAST(CAST(nd.nd AS HUGEINT) * t.sxx
                       - CAST(t.tf AS HUGEINT) * t.tf AS BIGINT) AS DOUBLE)
                    / CAST(CAST((CAST(nd.nd AS HUGEINT) - 1) * t.tf AS BIGINT) AS DOUBLE)
                END AS vmr
         FROM top t JOIN nd ON nd.lang = t.lang
         WHERE t.rnk <= 20
         ORDER BY t.lang, t.tf DESC, t.token""")),

    // Collocation mining: PMI of adjacent token bigrams corpus-wide —
    // log2(c_ab·N / (c_a·c_b)) on the FixedLog2 lattice, so the score is
    // exact and the top-k order is total. Bigrams come from per-row array
    // arithmetic (never a self-join); the two unigram joins are keyed.
    Query("text_collocation_pmi", (s, dir) => {
      val L = graft.functions.FixedLog2.log2_fp _
      val toks = Tables.documents(s, dir)
        .select(TextAnalysis.tokens("text").as("t")).tracked
      val pairs = toks.select(explode(expr(
          "transform(slice(t, 1, greatest(size(t) - 1, 0)), " +
          "(w, i) -> named_struct('w1', w, 'w2', element_at(t, i + 2)))"))
          .as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val bc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c")).tracked
      val tot = uni.agg(sum(col("c")).as("n_tok"))
      bc.join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
        .crossJoin(broadcast(tot))
        .withColumn("pmi_q20",
          L(col("c_ab") * col("n_tok")) - L(col("c_a") * col("c_b")))
        .select(col("w1"), col("w2"), col("c_ab"),
          (col("pmi_q20").cast("double") / lit(1048576.0)).as("pmi_bits"))
        .orderBy(col("pmi_bits").desc, col("w1"), col("w2"))
        .limit(20)
    },
      Some {
      val lnum = graft.functions.FixedLog2.sql("num")
      val lden = graft.functions.FixedLog2.sql("den")
      s"""WITH toks AS (SELECT regexp_extract_all(translate(text,
                          'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                          'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS t
                        FROM documents),
               bg AS (SELECT t[i] AS w1, t[i + 1] AS w2
                      FROM (SELECT t, unnest(generate_series(1, len(t) - 1))
                              AS i
                            FROM toks)),
               bc AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2
                      HAVING count(*) >= 5),
               uni AS (SELECT unnest(t) AS w FROM toks),
               uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
               tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uc),
               p AS (SELECT bc.w1, bc.w2, bc.c_ab,
                            bc.c_ab * tot.n_tok AS num,
                            a.c * b.c AS den
                     FROM bc JOIN uc a ON a.w = bc.w1
                             JOIN uc b ON b.w = bc.w2
                             CROSS JOIN tot)
          SELECT w1, w2, c_ab,
                 CAST($lnum - $lden AS DOUBLE) / 1048576.0 AS pmi_bits
          FROM p ORDER BY pmi_bits DESC, w1, w2 LIMIT 20"""
      }),

    // Simplified silhouette over the embedding corpus: a = distance to the
    // own-label centroid, b = nearest other centroid, s = (b−a)/max(a,b) —
    // the clustering-QA score at O(N·k) instead of O(N²). Centroids live
    // on the q=⌊x·2¹⁶⌋ lattice (exact integer sums → one deterministic
    // mean); per-vector distances fold dims in index order (bitwise-
    // portable); per-label means go through the ⌊s·2²⁰⌋ lattice so the
    // final aggregation is order-free. k centroids ride a broadcast
    // constant-key hash join — never a shuffle of the corpus.
    Query("emb_silhouette_simplified", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centArr = graft.similarity.CentroidLattice.centroidArrays(emb)
        .select(col("label").as("clabel"), col("c"))
      val v = emb.select(col("vec_id"), col("label").cast("long").as("label"),
        expr(graft.similarity.CentroidLattice.qArraySql).as("qa"))
      val p = v.crossJoin(broadcast(centArr))
        .withColumn("dist2",
          expr(graft.similarity.CentroidLattice.dist2Sql("qa", "c")))
      val ab = p.groupBy("vec_id", "label")
        .agg(sqrt(min(when(col("clabel") === col("label"), col("dist2"))))
               .as("a"),
             sqrt(min(when(col("clabel") =!= col("label"), col("dist2"))))
               .as("b"))
      ab.select(col("label"),
          when(greatest(col("a"), col("b")) > 0,
            floor((col("b") - col("a")) / greatest(col("a"), col("b"))
                  * lit(1048576)).cast("long")).otherwise(lit(0L)).as("sq20"),
          floor(col("a") * lit(1048576)).cast("long").as("aq20"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
             (sum(col("sq20")).cast("double") / count(lit(1)).cast("double")
               / lit(1048576.0)).as("avg_silhouette"),
             (sum(col("aq20")).cast("double") / count(lit(1)).cast("double")
               / lit(1048576.0)).as("avg_intra_dist"))
        .orderBy("label")
    },
      Some("""WITH dims AS (SELECT CAST(label AS BIGINT) AS label, i,
                        CAST(floor(CAST(embedding[i] AS DOUBLE) * 65536)
                          AS BIGINT) AS q
                      FROM (SELECT label, embedding,
                              unnest(generate_series(1, 64)) AS i
                            FROM embeddings)),
              cent AS (SELECT label, i, CAST(sum(q) AS BIGINT) AS sq,
                              count(*) AS n
                       FROM dims GROUP BY 1, 2),
              ca AS (SELECT label AS clabel,
                            list_transform(list_sort(list(
                              {'i': i, 'm': CAST(sq AS DOUBLE)
                                / CAST(n * 65536 AS DOUBLE)})),
                              x -> x.m) AS c
                     FROM cent GROUP BY 1),
              v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                      list_transform(embedding, x ->
                        CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT))
                        AS qa
                    FROM embeddings),
              p AS (SELECT v.vec_id, v.label, ca.clabel,
                      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(generate_series(1, 64), i ->
                          (CAST(qa[i] AS DOUBLE) / 65536.0 - c[i])
                          * (CAST(qa[i] AS DOUBLE) / 65536.0 - c[i]))),
                        (a, x) -> a + x) AS dist2
                    FROM v CROSS JOIN ca),
              s AS (SELECT vec_id, label,
                      sqrt(min(CASE WHEN clabel = label THEN dist2 END))
                        AS a,
                      sqrt(min(CASE WHEN clabel <> label THEN dist2 END))
                        AS b
                    FROM p GROUP BY 1, 2),
              u AS (SELECT label,
                      CASE WHEN greatest(a, b) > 0 THEN
                        CAST(floor((b - a) / greatest(a, b) * 1048576)
                          AS BIGINT)
                      ELSE 0 END AS sq20,
                      CAST(floor(a * 1048576) AS BIGINT) AS aq20
                    FROM s)
         SELECT label, count(*) AS n_vecs,
                CAST(sum(sq20) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  / 1048576.0 AS avg_silhouette,
                CAST(sum(aq20) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  / 1048576.0 AS avg_intra_dist
         FROM u GROUP BY 1 ORDER BY 1""")),

    // Distribution-shift audit: KL(source ‖ corpus) over token unigrams,
    // per source — the "which slice drifted from the mixture" check run
    // around every ingestion. Same lattice identity: the per-token term
    // is c_sw·(log2fp(c_sw·T) − log2fp(T_s·c_w)), summed exactly.
    Query("text_kl_source_shift", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val L = graft.functions.FixedLog2.log2_fp _
      val st = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens("text")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c_sw")).tracked
      val cw = st.groupBy("w").agg(sum(col("c_sw")).as("c_w"))
      val tsrc = st.groupBy("source").agg(sum(col("c_sw")).as("t_s")).tracked
      val tot = tsrc.agg(sum(col("t_s")).as("t"))
      st.join(cw, "w").join(broadcast(tsrc), "source")
        .crossJoin(broadcast(tot))
        .withColumn("term",
          dec(col("c_sw")) * dec(L(col("c_sw") * col("t")) -
                                 L(col("t_s") * col("c_w"))))
        .groupBy("source")
        .agg(first(col("t_s")).as("n_tokens"), sum(col("term")).as("num"))
        .select(col("source"), col("n_tokens"),
          (col("num").cast("double") / col("n_tokens").cast("double")
            / lit(1048576.0)).as("kl_bits"))
        .orderBy("source")
    },
      Some {
      val lnum = graft.functions.FixedLog2.sql("cst")
      val lden = graft.functions.FixedLog2.sql("tcw")
      s"""WITH st AS (SELECT source, w, count(*) AS c_sw FROM (
                        SELECT source, unnest(regexp_extract_all(
                          translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                            'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS w
                        FROM documents) GROUP BY 1, 2),
               cw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w
                      FROM st GROUP BY 1),
               tsrc AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS t_s
                        FROM st GROUP BY 1),
               tot AS (SELECT CAST(sum(t_s) AS BIGINT) AS t FROM tsrc),
               terms AS (SELECT st.source, st.c_sw, tsrc.t_s,
                                st.c_sw * tot.t AS cst,
                                tsrc.t_s * cw.c_w AS tcw
                         FROM st JOIN cw ON cw.w = st.w
                                 JOIN tsrc ON tsrc.source = st.source
                                 CROSS JOIN tot)
          SELECT source, any_value(t_s) AS n_tokens,
                 CAST(CAST(sum(CAST(c_sw AS HUGEINT) * ($lnum - $lden)) AS BIGINT) AS DOUBLE)
                   / CAST(any_value(t_s) AS DOUBLE) / 1048576.0 AS kl_bits
          FROM terms GROUP BY 1 ORDER BY 1"""
      }),

    // Jensen–Shannon divergence between every language pair's token
    // distribution — the symmetric, bounded [0,1]-bits corpus-drift
    // metric. The mixture entropy term needs the UNION vocabulary of
    // each pair; rather than a full-outer join per pair, one directed
    // left-join frame D(la,lb) = Σ_{w∈vocab(la)} a_w·(log2fp(2T_aT_b) −
    // log2fp(a_w)) with a_w = c_aw·T_b + c_bw·T_a covers it via
    // inclusion–exclusion: S(pair) = D(a,b) + D(b,a) − I(pair), where I
    // sums the both-present terms once (a_w is symmetric). Everything is
    // exact lattice integers until three final double divisions.
    Query("text_js_divergence", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val L = graft.functions.FixedLog2.log2_fp _
      val lt = Tables.documents(s, dir)
        .select(col("lang"), explode(TextAnalysis.tokens("text")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c")).tracked
      val tl = lt.groupBy("lang").agg(sum(col("c")).as("t")).tracked
      val dirFrame = lt
        .select(col("lang").as("la"), col("w"), col("c").as("c_a"))
        .join(broadcast(tl.select(col("lang").as("lb"), col("t").as("t_b"))),
              col("la") =!= col("lb"))
        .join(lt.select(col("lang").as("lb2"), col("w").as("w2"),
                        col("c").as("c_b")),
              col("lb") === col("lb2") && col("w") === col("w2"), "left")
        .drop("lb2", "w2")
        .na.fill(0L, Seq("c_b"))
        .join(broadcast(tl.select(col("lang").as("la"), col("t").as("t_a"))),
              "la")
        .withColumn("aw", col("c_a") * col("t_b") + col("c_b") * col("t_a"))
        .withColumn("term",
          dec(col("aw")) * dec(L(lit(2L) * col("t_a") * col("t_b")) -
                               L(col("aw"))))
        .tracked
      val d = dirFrame.groupBy("la", "lb").agg(sum(col("term")).as("dsum"))
        .tracked
      val i = dirFrame.filter(col("c_b") > 0 && col("la") < col("lb"))
        .groupBy("la", "lb").agg(sum(col("term")).as("isum"))
      val hn = lt.groupBy("lang")
        .agg(sum(dec(col("c")) * dec(L(col("c")))).as("sclog"))
        .join(tl, "lang")
        .select(col("lang"), col("t"),
          (dec(col("t")) * dec(L(col("t"))) - col("sclog")).as("hnum"))
      d.filter(col("la") < col("lb"))
        .join(d.select(col("lb").as("la"), col("la").as("lb"),
                       col("dsum").as("dsum_r")), Seq("la", "lb"))
        .join(i, Seq("la", "lb"))
        .join(broadcast(hn.select(col("lang").as("la"),
          col("t").as("t_a"), col("hnum").as("hnum_a"))), "la")
        .join(broadcast(hn.select(col("lang").as("lb"),
          col("t").as("t_b"), col("hnum").as("hnum_b"))), "lb")
        .select(col("la").as("lang_a"), col("lb").as("lang_b"),
          (((col("dsum") + col("dsum_r") - col("isum")).cast("double")
             / (col("t_a") * col("t_b") * lit(2L)).cast("double")
             / lit(1048576.0))
           - (col("hnum_a").cast("double") / col("t_a").cast("double")
                / lit(1048576.0)
              + col("hnum_b").cast("double") / col("t_b").cast("double")
                / lit(1048576.0)) / lit(2.0)).as("jsd_bits"))
        .orderBy("lang_a", "lang_b")
    },
      Some {
      val lb2 = graft.functions.FixedLog2.sql("bb")
      val law = graft.functions.FixedLog2.sql("aw")
      val lc = graft.functions.FixedLog2.sql("c")
      val lt2 = graft.functions.FixedLog2.sql("t")
      s"""WITH lt AS (SELECT lang, w, count(*) AS c FROM (
                        SELECT lang, unnest(regexp_extract_all(
                          translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                            'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS w
                        FROM documents) GROUP BY 1, 2),
               tl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t
                      FROM lt GROUP BY 1),
               dirf AS (SELECT a.lang AS la, tb.lang AS lb, a.w,
                               a.c AS c_a, coalesce(b.c, 0) AS c_b,
                               ta.t AS t_a, tb.t AS t_b,
                               a.c * tb.t + coalesce(b.c, 0) * ta.t AS aw,
                               2 * ta.t * tb.t AS bb
                        FROM lt a
                        JOIN tl tb ON tb.lang <> a.lang
                        LEFT JOIN lt b ON b.lang = tb.lang AND b.w = a.w
                        JOIN tl ta ON ta.lang = a.lang),
               terms AS (SELECT la, lb, c_b, t_a, t_b,
                                CAST(aw AS HUGEINT) * ($lb2 - $law) AS term
                         FROM dirf),
               d AS (SELECT la, lb, CAST(sum(term) AS HUGEINT) AS dsum
                     FROM terms GROUP BY 1, 2),
               i AS (SELECT la, lb, CAST(sum(term) AS HUGEINT) AS isum
                     FROM terms WHERE c_b > 0 AND la < lb GROUP BY 1, 2),
               hn AS (SELECT lt.lang, tl.t,
                             CAST(CAST(tl.t AS HUGEINT) * $lt2
                               - sum(CAST(c AS HUGEINT) * $lc) AS HUGEINT)
                               AS hnum
                      FROM lt JOIN tl ON tl.lang = lt.lang
                      GROUP BY 1, 2)
          SELECT d.la AS lang_a, d.lb AS lang_b,
                 (CAST(d.dsum + dr.dsum - i.isum AS DOUBLE)
                    / CAST(ha.t * hb.t * 2 AS DOUBLE) / 1048576.0)
                 - (CAST(ha.hnum AS DOUBLE) / CAST(ha.t AS DOUBLE)
                      / 1048576.0
                    + CAST(hb.hnum AS DOUBLE) / CAST(hb.t AS DOUBLE)
                      / 1048576.0) / 2.0 AS jsd_bits
          FROM d JOIN d dr ON dr.la = d.lb AND dr.lb = d.la
                 JOIN i ON i.la = d.la AND i.lb = d.lb
                 JOIN hn ha ON ha.lang = d.la
                 JOIN hn hb ON hb.lang = d.lb
          WHERE d.la < d.lb
          ORDER BY lang_a, lang_b"""
      }),

    // ANN quality as a first-class oracle-checked query (the estimator-
    // census pattern dedup_lsh_quality established, applied to the
    // vector-search path): recall@5 of the IVF probe (nprobe=2) against
    // the exact brute-force top-5 per probe vector. Both sides reuse the
    // verified operators; the per-query miss census is exactly what an
    // index-tuning loop monitors when trading nprobe against scan cost.
    Query("sim_ivf_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < 10)
      val gt = Similarity.bruteForceTopK(emb, probes, k = 5)
        .select(col("query_id"), col("vec_id"))
      val ivf = Similarity.ivfProbeTopK(emb,
          emb.filter(col("vec_id") < 8), probes, nprobe = 2, k = 5)
        .select(col("query_id"), col("vec_id"))
      val hits = gt.join(ivf, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      probes.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_at_5",
          col("n_hits").cast("double") / lit(5.0))
        .orderBy("query_id")
    },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS eq
                     FROM embeddings WHERE vec_id < 10),
            gt AS (SELECT query_id, vec_id FROM (
                     SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY
                         ${duckDot("eq", "embedding")}
                           / (sqrt(${duckDot("eq", "eq")})
                              * sqrt(${duckDot("embedding", "embedding")}))
                           DESC, vec_id ASC) AS rank
                     FROM q JOIN embeddings ON vec_id <> query_id)
                   WHERE rank <= 5),
            c AS (SELECT vec_id AS centroid_id, embedding AS ec
                  FROM embeddings WHERE vec_id < 8),
            asg AS (SELECT centroid_id, vec_id, embedding FROM (
                      SELECT e.vec_id, c.centroid_id, e.embedding,
                        row_number() OVER (PARTITION BY e.vec_id ORDER BY
                          ${duckDot("e.embedding", "c.ec")}
                            / (sqrt(${duckDot("e.embedding", "e.embedding")})
                               * sqrt(${duckDot("c.ec", "c.ec")})) DESC,
                          c.centroid_id ASC) AS rn
                      FROM embeddings e CROSS JOIN c)
                    WHERE rn = 1),
            prb AS (SELECT query_id, centroid_id, emb_q FROM (
                      SELECT q.vec_id AS query_id, c.centroid_id,
                             q.embedding AS emb_q,
                        row_number() OVER (PARTITION BY q.vec_id ORDER BY
                          ${duckDot("q.embedding", "c.ec")}
                            / (sqrt(${duckDot("q.embedding", "q.embedding")})
                               * sqrt(${duckDot("c.ec", "c.ec")})) DESC,
                          c.centroid_id ASC) AS rn
                      FROM embeddings q CROSS JOIN c WHERE q.vec_id < 10)
                    WHERE rn <= 2),
            sc AS (SELECT p.query_id, a.vec_id,
                     ${duckDot("p.emb_q", "a.embedding")}
                       / (sqrt(${duckDot("p.emb_q", "p.emb_q")})
                          * sqrt(${duckDot("a.embedding", "a.embedding")}))
                       AS cosine
                   FROM prb p JOIN asg a USING (centroid_id)
                   WHERE a.vec_id <> p.query_id),
            ivf AS (SELECT query_id, vec_id FROM (
                      SELECT query_id, vec_id,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, vec_id ASC) AS rank
                      FROM sc)
                    WHERE rank <= 5),
            h AS (SELECT gt.query_id, count(*) AS n_hits
                  FROM gt JOIN ivf ON ivf.query_id = gt.query_id
                                  AND ivf.vec_id = gt.vec_id
                  GROUP BY 1)
          SELECT q.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT)
                   AS n_hits,
                 CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5.0
                   AS recall_at_5
          FROM q LEFT JOIN h ON h.query_id = q.query_id
          ORDER BY q.query_id""")),

    // Embedding-quality evaluation: leave-one-out 3-NN label accuracy
    // over an id-bounded probe set — the standard "are these embeddings
    // any good" harness. Exact cosine neighbors from the brute-force
    // baseline (broadcast probes × one corpus scan), majority vote with
    // (votes, best-rank, label) tie-break as one partial-aggregable
    // max_by, per-label accuracy as an exact count ratio.
    Query("sim_knn_loo_accuracy", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val nn = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 200), k = 3)
      val lbl = emb.select(col("vec_id"), col("label").cast("long").as("lbl"))
        .tracked
      val pred = nn.join(lbl, "vec_id")
        .groupBy("query_id", "lbl")
        .agg(count(lit(1)).as("v"), min(col("rank")).as("best"))
        .groupBy("query_id")
        .agg(max_by(col("lbl"),
          struct(col("v"), (-col("best")).as("nb"), (-col("lbl")).as("nl")))
          .as("pred"))
      pred.join(lbl.select(col("vec_id").as("query_id"),
                           col("lbl").as("truth")), "query_id")
        .groupBy(col("truth").as("label"))
        .agg(count(lit(1)).as("n_queries"),
             sum((col("pred") === col("truth")).cast("long"))
               .as("n_correct"))
        .select(col("label"), col("n_queries"), col("n_correct"),
          (col("n_correct").cast("double") / col("n_queries").cast("double"))
            .as("accuracy"))
        .orderBy("label")
    },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS eq
                     FROM embeddings WHERE vec_id < 200),
              d AS (SELECT query_id, vec_id,
                      ${duckDot("eq", "embedding")}
                        / (sqrt(${duckDot("eq", "eq")})
                           * sqrt(${duckDot("embedding", "embedding")}))
                        AS cosine
                    FROM q JOIN embeddings ON vec_id <> query_id),
              r AS (SELECT query_id, vec_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, vec_id ASC) AS rank
                    FROM d),
              nn AS (SELECT r.query_id, CAST(e.label AS BIGINT) AS lbl,
                            r.rank
                     FROM r JOIN embeddings e ON e.vec_id = r.vec_id
                     WHERE r.rank <= 3),
              v AS (SELECT query_id, lbl, count(*) AS v, min(rank) AS best
                    FROM nn GROUP BY 1, 2),
              p AS (SELECT query_id, lbl AS pred FROM (
                      SELECT query_id, lbl,
                             row_number() OVER (PARTITION BY query_id
                               ORDER BY v DESC, best ASC, lbl ASC) AS rn
                      FROM v) WHERE rn = 1),
              t AS (SELECT p.pred, CAST(e.label AS BIGINT) AS truth
                    FROM p JOIN embeddings e ON e.vec_id = p.query_id)
         SELECT truth AS label, count(*) AS n_queries,
                CAST(sum(CASE WHEN pred = truth THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct,
                CAST(sum(CASE WHEN pred = truth THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
         FROM t GROUP BY 1 ORDER BY 1""")),

    // RAKE keyphrase extraction: stopword-delimited token runs (≤3 words)
    // are the candidate phrases; each word scores deg/freq (deg = summed
    // length of the phrases it appears in), each phrase the sum of its
    // word scores. The division lives on the ⌊·2²⁰⌋ integer lattice so
    // scores and the top-k order are exact. Run segmentation is a keyed
    // running sum (stopword prefix count), never a per-doc UDF loop.
    Query("text_keyphrase_rake", (s, dir) => {
      val stopArr = array(TextAnalysis.stopwords.map(lit): _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      // pinned tokenized corpus (§2.4; r11 — wall −32% measured, cpu
      // ~flat: the 1-task fixture tokenize serialized this query's
      // window pass)
      val g = Shared.corpusTokens(s, dir)
        .select(col("doc_id"), col("pos"), col("w"))
        .withColumn("stop", array_contains(stopArr, col("w")).cast("long"))
        .withColumn("gid", sum(col("stop")).over(w))
        .filter(col("stop") === 0)
      val ph = g.groupBy("doc_id", "gid")
        .agg(expr("transform(array_sort(collect_list(named_struct(" +
          "'pos', pos, 'w', w))), x -> x.w)").as("ws"))
        .filter(size(col("ws")) <= 3)
        .withColumn("phrase", array_join(col("ws"), " "))
        .withColumn("len", size(col("ws")).cast("long"))
        .tracked
      val wordScore = ph.select(col("len"), explode(col("ws")).as("w"))
        .groupBy("w")
        .agg(expr("sum(len) * 1048576 DIV count(1)").as("wscore"))
      ph.select(col("doc_id"), col("gid"), col("phrase"),
          explode(col("ws")).as("w"))
        .join(wordScore, "w")
        .groupBy("doc_id", "gid", "phrase")
        .agg(sum(col("wscore")).as("pscore"))
        .groupBy("phrase")
        .agg(count(lit(1)).as("n_occurrences"),
             max(col("pscore")).as("score_q20"))
        .select(col("phrase"), col("n_occurrences"),
          (col("score_q20").cast("double") / lit(1048576.0))
            .as("rake_score"))
        .orderBy(col("rake_score").desc, col("phrase"))
        .limit(20)
    },
      Some {
      val stops = TextAnalysis.stopwords.map(s => s"'$s'")
        .mkString("[", ", ", "]")
      s"""WITH tok AS (SELECT doc_id, i AS pos, t[i] AS w
                       FROM (SELECT doc_id, t,
                               unnest(generate_series(1, len(t))) AS i
                             FROM (SELECT doc_id, regexp_extract_all(
                                     translate(text,
                                       'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       'abcdefghijklmnopqrstuvwxyz'),
                                     '[a-z0-9]+') AS t
                                   FROM documents))),
               f AS (SELECT doc_id, pos, w,
                            CASE WHEN list_contains($stops, w)
                              THEN 1 ELSE 0 END AS stop
                     FROM tok),
               gg AS (SELECT doc_id, pos, w, stop,
                             CAST(sum(stop) OVER (PARTITION BY doc_id
                               ORDER BY pos) AS BIGINT) AS gid
                      FROM f),
               ph AS (SELECT doc_id, gid,
                             string_agg(w, ' ' ORDER BY pos) AS phrase,
                             CAST(count(*) AS BIGINT) AS len,
                             list(w ORDER BY pos) AS ws
                      FROM gg WHERE stop = 0 GROUP BY 1, 2
                      HAVING count(*) <= 3),
               mem AS (SELECT len, unnest(ws) AS w FROM ph),
               wsc AS (SELECT w, CAST(sum(len) AS BIGINT) * 1048576
                              // count(*) AS wscore
                       FROM mem GROUP BY 1),
               occ AS (SELECT p.doc_id, p.gid, p.phrase,
                              CAST(sum(wsc.wscore) AS BIGINT) AS pscore
                       FROM (SELECT doc_id, gid, phrase, unnest(ws) AS w
                             FROM ph) p
                       JOIN wsc ON wsc.w = p.w GROUP BY 1, 2, 3)
          SELECT phrase, count(*) AS n_occurrences,
                 CAST(max(pscore) AS DOUBLE) / 1048576.0 AS rake_score
          FROM occ GROUP BY 1 ORDER BY rake_score DESC, phrase LIMIT 20"""
      }),

    // Two REAL BPE training iterations over the corpus: count adjacent
    // token pairs → pick the top merge (count desc, then lexicographic;
    // self-pairs excluded so the greedy merge has no overlap ambiguity
    // and applies embarrassingly parallel) → rewrite every occurrence
    // corpus-wide → recount. Each rewrite is one keyed lag/lead window
    // pass + re-rank, never a per-doc loop; the two top-pair picks are
    // 1-row scalar collects (the allowed driver-side pattern). Output:
    // the post-merge pair counts, where the merged tokens now appear as
    // single units — the actual inner loop of tokenizer training,
    // distributed.
    Query("text_bpe_train_steps", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val dw = W.partitionBy("doc_id").orderBy("pos")
      def pairs(tok: DataFrame): DataFrame = tok
        .withColumn("w2", lead(col("w"), 1).over(dw))
        .filter(col("w2").isNotNull)
        .groupBy(col("w").as("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt"))
      def topPair(bg: DataFrame): (String, String) = {
        val r = Exact.boundedCollect(
          bg.filter(col("w1") =!= col("w2"))
            .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(1),
          1, "BPE top-pair scalar").head
        (r.getString(0), r.getString(1))
      }
      def merge(tok: DataFrame, a: String, b: String): DataFrame = tok
        .withColumn("pw", lag(col("w"), 1).over(dw))
        .withColumn("nw", lead(col("w"), 1).over(dw))
        .withColumn("w",
          when(col("w") === a && col("nw") === b, lit(a + "_" + b))
            .when(col("pw") === a && col("w") === b, lit(null))
            .otherwise(col("w")))
        .filter(col("w").isNotNull)
        .select(col("doc_id"),
          row_number().over(dw).as("pos"), col("w"))
      val tok0 = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokens("text")).as(Seq("pos", "w")))
        .tracked
      val (a0, b0) = topPair(pairs(tok0))
      val tok1 = merge(tok0, a0, b0).tracked
      val (a1, b1) = topPair(pairs(tok1))
      val tok2 = merge(tok1, a1, b1)
      pairs(tok2)
        .orderBy(col("cnt").desc, col("w1"), col("w2"))
        .limit(10)
    },
      Some("""WITH toks AS (SELECT doc_id, regexp_extract_all(translate(text,
                         'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                         'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS t
                       FROM documents),
              tok0 AS (SELECT doc_id, i AS pos, t[i] AS w
                       FROM (SELECT doc_id, t,
                               unnest(generate_series(1, len(t))) AS i
                             FROM toks)),
              bg0 AS (SELECT w AS w1, w2, count(*) AS cnt FROM (
                        SELECT w, lead(w) OVER (PARTITION BY doc_id
                          ORDER BY pos) AS w2
                        FROM tok0)
                      WHERE w2 IS NOT NULL GROUP BY 1, 2),
              p0 AS (SELECT w1 AS a, w2 AS b FROM bg0 WHERE w1 <> w2
                     ORDER BY cnt DESC, w1, w2 LIMIT 1),
              m1 AS (SELECT doc_id, pos,
                       CASE WHEN w = p0.a AND nw = p0.b
                              THEN p0.a || '_' || p0.b
                            WHEN pw = p0.a AND w = p0.b THEN NULL
                            ELSE w END AS w
                     FROM (SELECT doc_id, pos, w,
                             lag(w) OVER (PARTITION BY doc_id
                               ORDER BY pos) AS pw,
                             lead(w) OVER (PARTITION BY doc_id
                               ORDER BY pos) AS nw
                           FROM tok0) CROSS JOIN p0),
              tok1 AS (SELECT doc_id, row_number() OVER (PARTITION BY
                         doc_id ORDER BY pos) AS pos, w
                       FROM m1 WHERE w IS NOT NULL),
              bg1 AS (SELECT w AS w1, w2, count(*) AS cnt FROM (
                        SELECT w, lead(w) OVER (PARTITION BY doc_id
                          ORDER BY pos) AS w2
                        FROM tok1)
                      WHERE w2 IS NOT NULL GROUP BY 1, 2),
              p1 AS (SELECT w1 AS a, w2 AS b FROM bg1 WHERE w1 <> w2
                     ORDER BY cnt DESC, w1, w2 LIMIT 1),
              m2 AS (SELECT doc_id, pos,
                       CASE WHEN w = p1.a AND nw = p1.b
                              THEN p1.a || '_' || p1.b
                            WHEN pw = p1.a AND w = p1.b THEN NULL
                            ELSE w END AS w
                     FROM (SELECT doc_id, pos, w,
                             lag(w) OVER (PARTITION BY doc_id
                               ORDER BY pos) AS pw,
                             lead(w) OVER (PARTITION BY doc_id
                               ORDER BY pos) AS nw
                           FROM tok1) CROSS JOIN p1),
              tok2 AS (SELECT doc_id, row_number() OVER (PARTITION BY
                         doc_id ORDER BY pos) AS pos, w
                       FROM m2 WHERE w IS NOT NULL),
              bg2 AS (SELECT w AS w1, w2, count(*) AS cnt FROM (
                        SELECT w, lead(w) OVER (PARTITION BY doc_id
                          ORDER BY pos) AS w2
                        FROM tok2)
                      WHERE w2 IS NOT NULL GROUP BY 1, 2)
         SELECT w1, w2, cnt FROM bg2
         ORDER BY cnt DESC, w1, w2 LIMIT 10""")),

    // Davies–Bouldin separation per cluster — the companion metric to
    // the silhouette: R_i = max_{j≠i} (s_i + s_j)/d(c_i, c_j) with s =
    // mean member→centroid distance. Member distances need only the OWN
    // centroid (a keyed broadcast join — O(N), cheaper than the
    // silhouette's O(N·k)); the k² centroid-pair frame is broadcast-tiny.
    // Scatters ride the ⌊d·2²⁰⌋ lattice; the max over j is order-free.
    Query("emb_davies_bouldin", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centArr = graft.similarity.CentroidLattice.centroidArrays(emb)
        .tracked
      val scatters = emb
        .select(col("label").cast("long").as("label"),
          expr(graft.similarity.CentroidLattice.qArraySql).as("qa"))
        .join(broadcast(centArr), "label")
        .withColumn("dq20",
          floor(sqrt(expr(graft.similarity.CentroidLattice
              .dist2Sql("qa", "c"))) * lit(1048576)).cast("long"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), sum(col("dq20")).as("sdq"))
        .select(col("label"), col("n_vecs"),
          (col("sdq").cast("double") / col("n_vecs").cast("double")
            / lit(1048576.0)).as("scatter"))
        .tracked
      val cd = (x: String, y: String) =>
        s"""sqrt(aggregate(zip_with($x, $y,
              (a, b) -> (a - b) * (a - b)),
            CAST(0.0 AS DOUBLE), (a, x) -> a + x))"""
      val pairs = centArr.select(col("label").as("li"), col("c").as("ci"))
        .crossJoin(broadcast(
          centArr.select(col("label").as("lj"), col("c").as("cj"))))
        .filter(col("li") =!= col("lj"))
        .withColumn("d_ij", expr(cd("ci", "cj")))
        .select("li", "lj", "d_ij")
      pairs
        .join(broadcast(scatters.select(col("label").as("li"),
          col("n_vecs"), col("scatter").as("s_i"))), "li")
        .join(broadcast(scatters.select(col("label").as("lj"),
          col("scatter").as("s_j"))), "lj")
        .groupBy(col("li").as("label"))
        .agg(first(col("n_vecs")).as("n_vecs"),
             first(col("s_i")).as("scatter"),
             max((col("s_i") + col("s_j")) / col("d_ij")).as("r_worst"))
        .orderBy("label")
    },
      Some("""WITH dims AS (SELECT CAST(label AS BIGINT) AS label, i,
                        CAST(floor(CAST(embedding[i] AS DOUBLE) * 65536)
                          AS BIGINT) AS q
                      FROM (SELECT label, embedding,
                              unnest(generate_series(1, 64)) AS i
                            FROM embeddings)),
              cent AS (SELECT label, i, CAST(sum(q) AS BIGINT) AS sq,
                              count(*) AS n
                       FROM dims GROUP BY 1, 2),
              ca AS (SELECT label,
                            list_transform(list_sort(list(
                              {'i': i, 'm': CAST(sq AS DOUBLE)
                                / CAST(n * 65536 AS DOUBLE)})),
                              x -> x.m) AS c
                     FROM cent GROUP BY 1),
              v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                      list_transform(embedding, x ->
                        CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT))
                        AS qa
                    FROM embeddings),
              sc AS (SELECT v.label, count(*) AS n_vecs,
                       CAST(sum(CAST(floor(sqrt(
                           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                             list_transform(generate_series(1, 64), i ->
                               (CAST(qa[i] AS DOUBLE) / 65536.0 - c[i])
                               * (CAST(qa[i] AS DOUBLE) / 65536.0 - c[i]))),
                             (a, x) -> a + x)) * 1048576) AS BIGINT))
                         AS BIGINT) AS sdq
                     FROM v JOIN ca ON ca.label = v.label
                     GROUP BY 1),
              st AS (SELECT label, n_vecs,
                            CAST(sdq AS DOUBLE) / CAST(n_vecs AS DOUBLE)
                              / 1048576.0 AS scatter
                     FROM sc),
              pr AS (SELECT a.label AS li, b.label AS lj,
                       sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(generate_series(1, 64), i ->
                           (a.c[i] - b.c[i]) * (a.c[i] - b.c[i]))),
                         (x, y) -> x + y)) AS d_ij
                     FROM ca a JOIN ca b ON a.label <> b.label)
         SELECT pr.li AS label, any_value(si.n_vecs) AS n_vecs,
                any_value(si.scatter) AS scatter,
                max((si.scatter + sj.scatter) / pr.d_ij) AS r_worst
         FROM pr JOIN st si ON si.label = pr.li
                 JOIN st sj ON sj.label = pr.lj
         GROUP BY 1 ORDER BY 1""")),

    // Per-document cross-entropy under the corpus's own bigram LM — the
    // LM-score quality filter every pretraining pipeline runs, with the
    // unsmoothed MLE model trained on the corpus itself so every doc
    // bigram has support. Per-bigram surprisal −log2 p(w₂|w₁) =
    // log2fp(c_a) − log2fp(c_ab) ≥ 0 exactly on the lattice; per-doc
    // sums are exact integers, so the flagged tail (top-20 most
    // surprising docs) is totally ordered. One bigram-keyed join against
    // the corpus counts — no per-doc state.
    Query("text_bigram_surprisal", (s, dir) => {
      val L = graft.functions.FixedLog2.log2_fp _
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens("text").as("t")).tracked
      val bg = toks.select(col("doc_id"), explode(expr(
          "transform(slice(t, 1, greatest(size(t) - 1, 0)), " +
          "(w, i) -> named_struct('w1', w, 'w2', element_at(t, i + 2)))"))
          .as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .tracked
      val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      val uc = bg.groupBy("w1").agg(count(lit(1)).as("c_a"))
      bg.join(bc, Seq("w1", "w2")).join(uc, Seq("w1"))
        .withColumn("bits_q20", L(col("c_a")) - L(col("c_ab")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
             sum(col("bits_q20")).as("sbits"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("sbits").cast("double") / col("n_bigrams").cast("double")
            / lit(1048576.0)).as("mean_bits"))
        .orderBy(col("mean_bits").desc, col("doc_id"))
        .limit(20)
    },
      Some {
      val la = graft.functions.FixedLog2.sql("c_a")
      val lab = graft.functions.FixedLog2.sql("c_ab")
      s"""WITH toks AS (SELECT doc_id, regexp_extract_all(translate(text,
                          'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                          'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS t
                        FROM documents),
               bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
                      FROM (SELECT doc_id, t,
                              unnest(generate_series(1, len(t) - 1)) AS i
                            FROM toks)),
               bc AS (SELECT w1, w2, count(*) AS c_ab FROM bg
                      GROUP BY 1, 2),
               uc AS (SELECT w1, count(*) AS c_a FROM bg GROUP BY 1),
               j AS (SELECT bg.doc_id, uc.c_a, bc.c_ab
                     FROM bg JOIN bc ON bc.w1 = bg.w1 AND bc.w2 = bg.w2
                             JOIN uc ON uc.w1 = bg.w1),
               t2 AS (SELECT doc_id, count(*) AS n_bigrams,
                             CAST(sum($la - $lab) AS BIGINT) AS sbits
                      FROM j GROUP BY 1)
          SELECT doc_id, n_bigrams,
                 CAST(sbits AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                   / 1048576.0 AS mean_bits
          FROM t2 ORDER BY mean_bits DESC, doc_id LIMIT 20"""
      }),

    // Multi-probe hyperplane LSH top-k: the recall dial that does NOT
    // rebuild the index — each query probes its own bucket plus the 8
    // Hamming-1 neighbors (flip each sign bit), so candidates come from 9
    // keyed bucket lookups instead of a corpus scan. A vector lives in
    // exactly one bucket and probes are distinct, so no candidate dedup
    // shuffle is needed; exact cosine verifies (fixed-fold dot — the
    // sim_bruteforce_topk chain) and ranks. At 100 TB the corpus is
    // bucket-partitioned at ingest and each probe is a partition-pruned
    // read.
    Query("sim_lsh_multiprobe", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val b = graft.similarity.HyperplaneLsh
        .withBuckets(Tables.embeddings(s, dir), nPlanes = 8, dim = 64)
        .tracked // corpus side + query side read it
      val q = b.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("bucket").as("qb"),
                col("embedding").as("emb_q"))
        .withColumn("probe", explode(array(
          col("qb") +: (0 until 8).map(i =>
            col("qb").bitwiseXOR(lit(1L << i))): _*)))
        .drop("qb")
      b.select(col("vec_id"), col("bucket").as("probe"),
               col("embedding").as("emb_c"))
        .join(broadcast(q), "probe")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cosine",
          graft.functions.VecOps.cosine(col("emb_q"), col("emb_c")))
        .withColumn("rank", row_number().over(
          w.partitionBy("query_id")
            .orderBy(col("cosine").desc, col("vec_id").asc)))
        .filter(col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    },
      Some {
      val planeLits = graft.similarity.HyperplaneLsh.planes(8, 64)
        .map(_.map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]"))
      val bits = planeLits.zipWithIndex.map { case (pl, i) =>
        s"CASE WHEN ${duckDot("embedding", pl)} > 0 THEN ${1L << i} ELSE 0 END"
      }.mkString(" + ")
      val probes = ("qb" +: (0 until 8).map(i => s"xor(qb, ${1L << i})"))
        .mkString("[", ", ", "]")
      s"""WITH b AS (SELECT vec_id, embedding,
                            CAST($bits AS BIGINT) AS bucket
                     FROM embeddings),
              q AS (SELECT vec_id AS query_id, bucket AS qb,
                           embedding AS emb_q
                    FROM b WHERE vec_id < 10),
              pr AS (SELECT query_id, emb_q,
                            unnest($probes) AS probe
                     FROM q),
              cand AS (SELECT p.query_id, c.vec_id,
                              ${duckDot("p.emb_q", "c.embedding")}
                                / (sqrt(${duckDot("p.emb_q", "p.emb_q")})
                                   * sqrt(${duckDot("c.embedding",
                                                    "c.embedding")}))
                                AS cosine
                       FROM b c JOIN pr p ON c.bucket = p.probe
                       WHERE c.vec_id <> p.query_id),
              rk AS (SELECT query_id, vec_id, cosine,
                            CAST(row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC) AS INT)
                              AS rank
                     FROM cand)
          SELECT query_id, rank, vec_id, cosine FROM rk
          WHERE rank <= 5 ORDER BY query_id, rank"""
      }),

    // RAG-style sliding-window chunking: 200-char chunks at 150-char
    // stride (50-char overlap so no retrieval boundary loses context) —
    // the corpus-preparation pass every retrieval pipeline runs. The
    // chunk grid derives from n_chars arithmetic (no second text scan),
    // chunks come from one explode + substring per doc (embarrassingly
    // parallel, zero shuffle before the output sort), and each chunk
    // carries its token count plus the portable codepoint-fold hash so
    // downstream chunk-level dedup is a groupBy away.
    Query("text_rag_chunking", (s, dir) => {
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("n_chars"))
        .filter(col("n_chars") > 0)
        .withColumn("chunk_idx",
          explode(sequence(lit(0L), expr("(n_chars - 1) div 150"))))
        .withColumn("chunk", expr(
          "substring(text, cast(chunk_idx * 150 + 1 as int), 200)"))
      chunks
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).cast("long").as("chunk_len"),
          size(TextAnalysis.tokens("chunk")).cast("long").as("n_tokens"),
          graft.functions.CharFold.char_fold_hash(col("chunk"))
            .as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },
      Some("""WITH d AS (SELECT doc_id, text, n_chars FROM documents
                    WHERE n_chars > 0),
              ch AS (SELECT doc_id, text,
                            CAST(unnest(range(((n_chars - 1) // 150) + 1))
                              AS BIGINT) AS chunk_idx
                     FROM d),
              cc AS (SELECT doc_id, chunk_idx,
                            substr(text, CAST(chunk_idx * 150 + 1 AS INT),
                                   200) AS chunk
                     FROM ch)
         SELECT doc_id, chunk_idx,
                CAST(length(chunk) AS BIGINT) AS chunk_len,
                CAST(len(regexp_extract_all(translate(chunk,
                  'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                  'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS BIGINT)
                  AS n_tokens,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split(chunk, ''),
                    c -> CAST(ascii(c) AS BIGINT))),
                  (a, c) -> (a * 31 + c) % 2147483647) AS chunk_hash
         FROM cc ORDER BY doc_id, chunk_idx""")),

    // Banded-Hamming near-dup pairs over the perceptual hashes — the
    // image-dedup candidate chain closing the loop from mm_image_phash:
    // split each 64-bit aHash into 4×16-bit bands (an exact-match band is
    // the LSH bucket — Hamming ≤ 3 guarantees one clean band by
    // pigeonhole), keyed self-join per band, distinct pairs, popcount
    // verify (bit_count, codegen'd both engines). Only informative hashes
    // (≥ 8 set bits) enter the index, mirroring production phash dedup.
    // The banded join is the ONLY shuffle — never an all-pairs compare.
    Query("dedup_phash_hamming", (s, dir) => {
      val hashes = phashFrame(s, dir)
        .select("media_id", "lo", "hi", "n_set")
        .filter(col("n_set") >= 8)
        .tracked // band explode + both join sides read it
      val banded = hashes.withColumn("band", explode(array(
          struct(lit(0L).as("b"), (col("lo") % 65536).as("v")),
          struct(lit(1L).as("b"), expr("lo div 65536").as("v")),
          struct(lit(2L).as("b"), (col("hi") % 65536).as("v")),
          struct(lit(3L).as("b"), expr("hi div 65536").as("v")))))
        .select(col("media_id"), col("lo"), col("hi"),
          col("band.b").as("b"), col("band.v").as("v"))
      banded.select(col("media_id").as("media_a"), col("lo").as("lo_a"),
          col("hi").as("hi_a"), col("b"), col("v"))
        .join(banded.select(col("media_id").as("media_b"),
          col("lo").as("lo_b"), col("hi").as("hi_b"), col("b"), col("v")),
          Seq("b", "v"))
        .filter(col("media_a") < col("media_b"))
        .select("media_a", "media_b", "lo_a", "hi_a", "lo_b", "hi_b")
        .distinct() // multi-band collisions emit once
        .withColumn("hamming",
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))
            + bit_count(col("hi_a").bitwiseXOR(col("hi_b"))))
        .filter(col("hamming") <= 3)
        .select(col("media_a"), col("media_b"),
                col("hamming").cast("long").as("hamming"))
        .orderBy("media_a", "media_b")
    },
      Some(s"""WITH $duckPhashCtes,
              hf AS (SELECT * FROM hs WHERE n_set >= 8),
              bd AS (SELECT media_id, lo, hi, bb.b,
                            CASE bb.b WHEN 0 THEN lo % 65536
                                      WHEN 1 THEN lo // 65536
                                      WHEN 2 THEN hi % 65536
                                      ELSE hi // 65536 END AS v
                     FROM hf CROSS JOIN
                       (SELECT unnest([0, 1, 2, 3]) AS b) bb),
              pp AS (SELECT DISTINCT a.media_id AS media_a,
                            c.media_id AS media_b, a.lo AS lo_a,
                            a.hi AS hi_a, c.lo AS lo_b, c.hi AS hi_b
                     FROM bd a JOIN bd c
                       ON a.b = c.b AND a.v = c.v
                      AND a.media_id < c.media_id)
         SELECT media_a, media_b,
                CAST(bit_count(xor(lo_a, lo_b))
                     + bit_count(xor(hi_a, hi_b)) AS BIGINT) AS hamming
         FROM pp
         WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 3
         ORDER BY 1, 2""")),

    // b-bit minhash (b = 1, Li & König): keep only each signature
    // component's lowest bit — 1/64 the sketch storage — and recover
    // Jaccard from bit agreement via Ĵ = 2·(eq/k) − 1 (random bits agree
    // half the time). Candidates come from the SAME banded-LSH join as
    // dedup_minhash_lsh (shared MinHash.candidatePairs — one definition,
    // estimator variants can't disagree on candidates); the full-width
    // estimate rides along so the storage/accuracy trade is visible per
    // pair. At 100 TB the 1-bit sketch is what actually fits in the
    // signature store.
    Query("dedup_bbit_minhash", (s, dir) =>
      MinHash.candidatePairs(Tables.documents(s, dir), "doc_id", "text",
          k = 16, r = 4)
        .withColumn("eq_full", expr(
          "size(filter(zip_with(sig_a, sig_b, (a, b) -> a = b), x -> x))")
          .cast("long"))
        .withColumn("eq_bits", expr(
          "size(filter(zip_with(sig_a, sig_b," +
          " (a, b) -> a % 2 = b % 2), x -> x))").cast("long"))
        .withColumn("est_full", col("eq_full").cast("double") / lit(16.0))
        .withColumn("est_1bit",
          lit(2.0) * col("eq_bits").cast("double") / lit(16.0) - lit(1.0))
        .filter(col("est_full") >= 0.5)
        .select("doc_a", "doc_b", "eq_full", "eq_bits", "est_full",
                "est_1bit")
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH $duckMinhashCandCtes,
              eqs AS (SELECT doc_a, doc_b,
                        CAST(len(list_filter(generate_series(1, 16), i ->
                          sig_a[i] = sig_b[i])) AS BIGINT) AS eq_full,
                        CAST(len(list_filter(generate_series(1, 16), i ->
                          sig_a[i] % 2 = sig_b[i] % 2)) AS BIGINT)
                          AS eq_bits
                      FROM cand)
          SELECT doc_a, doc_b, eq_full, eq_bits,
                 CAST(eq_full AS DOUBLE) / 16.0 AS est_full,
                 2.0 * CAST(eq_bits AS DOUBLE) / 16.0 - 1.0 AS est_1bit
          FROM eqs
          WHERE CAST(eq_full AS DOUBLE) / 16.0 >= 0.5
          ORDER BY doc_a, doc_b""")),

    // Mutual k-NN graph over the hyperplane-LSH buckets: top-3 neighbors
    // per vector among same-bucket candidates (keyed window, never the
    // full cross), edge kept only when both endpoints rank each other —
    // the construction k-NN-graph clustering and dedup canopies start
    // from. Recall is bucket-bounded by design (the LSH dial), which is
    // exactly the 100 TB posture.
    Query("sim_knn_graph", (s, dir) =>
      graft.similarity.HyperplaneLsh
        .knnGraph(Tables.embeddings(s, dir), nPlanes = 4, dim = 64, k = 3)
        .orderBy("vec_a", "vec_b"),
      Some {
      val planeLits = graft.similarity.HyperplaneLsh.planes(4, 64)
        .map(_.map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]"))
      val bits = planeLits.zipWithIndex.map { case (pl, i) =>
        s"CASE WHEN ${duckDot("embedding", pl)} > 0 THEN ${1L << i} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH b AS (SELECT vec_id, embedding, $bits AS bucket
                     FROM embeddings),
              pairs AS (SELECT a.vec_id AS va, b2.vec_id AS vb,
                          ${duckDot("a.embedding", "b2.embedding")}
                            / (sqrt(${duckDot("a.embedding", "a.embedding")})
                               * sqrt(${duckDot("b2.embedding",
                                 "b2.embedding")})) AS cosine
                        FROM b a JOIN b b2 ON a.bucket = b2.bucket
                                           AND a.vec_id <> b2.vec_id),
              ranked AS (SELECT va, vb, cosine,
                           row_number() OVER (PARTITION BY va
                             ORDER BY cosine DESC, vb) AS rk
                         FROM pairs QUALIFY rk <= 3)
          SELECT x.va AS vec_a, x.vb AS vec_b, x.cosine AS cosine,
                 x.rk AS rank_ab, y.rk AS rank_ba
          FROM ranked x JOIN ranked y ON x.va = y.vb AND x.vb = y.va
          WHERE x.va < x.vb
          ORDER BY vec_a, vec_b"""
      }),

    // Embedding-shape outliers — the broken-vector detector every
    // embedding pipeline runs before indexing (zeroed runs, truncated
    // writes, fp8 blowups all distort how mass spreads over dimensions;
    // the corpus is unit-normalized, so the L2 norm itself carries no
    // signal). Statistic: the L1 mass Σ|qᵢ| of the 127-quantized unit
    // vector — peaked directions score low, diffuse ones high — exact
    // integers via the established quantize convention, per-label
    // moments exact, z the same one-division population form as
    // dq_volume_anomaly, top-10 total-ordered by (|z| desc, vec_id).
    Query("emb_norm_outliers", (s, dir) => {
      import graft.functions.VecOps
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val e = Tables.embeddings(s, dir)
        .withColumn("norm",
          sqrt(VecOps.dot(col("embedding"), col("embedding"))))
        .filter(col("norm") > 0)
        .withColumn("nq", aggregate(
          transform(col("embedding"), x =>
            abs(round(x.cast("double") / col("norm") * lit(127.0), 0)
              .cast("long"))),
          lit(0L), (a, x) => a + x))
        .select("vec_id", "label", "nq")
        .tracked // moments + z projection both scan it
      val stats = e.groupBy("label")
        .agg(count(lit(1)).as("n"), sum("nq").as("s1"),
             sum(dec(col("nq")) * dec(col("nq"))).as("s2"))
        .withColumn("var_num",
          Exact.checkedLong(dec(col("n")) * col("s2")
            - dec(col("s1")) * dec(col("s1"))))
      e.join(broadcast(stats), "label")
        .filter(col("var_num") > 0)
        .withColumn("z", (col("n") * col("nq") - col("s1")).cast("double")
          / sqrt(col("var_num").cast("double")))
        .select("vec_id", "label", "nq", "z")
        .orderBy(abs(col("z")).desc, col("vec_id"))
        .limit(10)
    },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding,
                  sqrt(${duckDot("embedding", "embedding")}) AS norm
           FROM embeddings),
     q AS (SELECT vec_id, label,
                  CAST(list_sum(list_transform(
                    generate_series(1, len(embedding)),
                    i -> abs(CAST(round(CAST(embedding[i] AS DOUBLE) / norm
                      * CAST(127 AS DOUBLE), 0) AS BIGINT)))) AS BIGINT)
                    AS nq
           FROM e WHERE norm > 0),
     st AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(nq) AS BIGINT) AS s1,
                   CAST(sum(CAST(nq AS HUGEINT) * nq) AS HUGEINT) AS s2
            FROM q GROUP BY 1),
     v AS (SELECT label, n, s1,
                  CAST(CAST(n AS HUGEINT) * s2
                    - CAST(s1 AS HUGEINT) * s1 AS BIGINT) AS var_num
           FROM st)
         SELECT q.vec_id, q.label, q.nq,
                CAST(v.n * q.nq - v.s1 AS DOUBLE)
                  / sqrt(CAST(v.var_num AS DOUBLE)) AS z
         FROM q JOIN v ON v.label = q.label
         WHERE v.var_num > 0
         ORDER BY abs(CAST(v.n * q.nq - v.s1 AS DOUBLE)
           / sqrt(CAST(v.var_num AS DOUBLE))) DESC, q.vec_id
         LIMIT 10""")),

    // TwoNN intrinsic-dimension estimate (Facco et al., public method)
    // of the embedding corpus: per point the ratio μ = r₂/r₁ of its two
    // nearest cosine distances, ID = n/Σln μ. Neighbors come from the
    // hyperplane-LSH buckets (per-bucket join — the scale path; a
    // bucket-local 2-NN is the standard lower-bound variant), μ is
    // floored to the ppm lattice from bitwise-identical distance chains,
    // the log runs on the FixedLog2 lattice, and ONE IEEE chain converts
    // bits → nats at the end. The manifold-dimension QA that decides
    // whether an embedding column deserves its width.
    Query("emb_intrinsic_dim", (s, dir) => {
      val L = graft.functions.FixedLog2.log2_fp _
      val pairs = graft.similarity.HyperplaneLsh
        .bucketPairs(Tables.embeddings(s, dir), nPlanes = 4, dim = 64)
        .withColumn("dist", lit(1.0) - col("cosine"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("va").orderBy(col("dist"), col("vb"))
      val two = pairs
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .groupBy("va")
        .agg(max(when(col("rk") === 1, col("dist"))).as("r1"),
             max(when(col("rk") === 2, col("dist"))).as("r2"))
        .filter(col("r1") > 0 && col("r2").isNotNull)
        .withColumn("mu_ppm",
          floor(col("r2") / col("r1") * lit(1000000.0)).cast("long"))
        .filter(col("mu_ppm") > 1000000L)
      two.agg(count(lit(1)).as("n_points"),
          sum(L(col("mu_ppm")) - L(lit(1000000L))).as("denom_bits"))
        .select(col("n_points"), col("denom_bits"),
          (col("n_points").cast("double") * lit(1048576.0)
            / (col("denom_bits").cast("double")
               * lit(0.6931471805599453))).as("id_hat"))
    },
      Some {
      val planeLits = graft.similarity.HyperplaneLsh.planes(4, 64)
        .map(_.map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]"))
      val bits = planeLits.zipWithIndex.map { case (pl, i) =>
        s"CASE WHEN ${duckDot("embedding", pl)} > 0 THEN ${1L << i} ELSE 0 END"
      }.mkString(" + ")
      val lmu = graft.functions.FixedLog2.sql("mu_ppm")
      val lone = graft.functions.FixedLog2.sql("1000000")
      s"""WITH b AS (SELECT vec_id, embedding, $bits AS bucket
                     FROM embeddings),
              pairs AS (SELECT a.vec_id AS va, b2.vec_id AS vb,
                          1.0 - ${duckDot("a.embedding", "b2.embedding")}
                            / (sqrt(${duckDot("a.embedding", "a.embedding")})
                               * sqrt(${duckDot("b2.embedding",
                                 "b2.embedding")})) AS dist
                        FROM b a JOIN b b2 ON a.bucket = b2.bucket
                                           AND a.vec_id <> b2.vec_id),
              r AS (SELECT va, dist,
                           row_number() OVER (PARTITION BY va
                             ORDER BY dist, vb) AS rk
                    FROM pairs QUALIFY rk <= 2),
              two AS (SELECT va,
                             max(CASE WHEN rk = 1 THEN dist END) AS r1,
                             max(CASE WHEN rk = 2 THEN dist END) AS r2
                      FROM r GROUP BY 1),
              mu AS (SELECT va,
                            CAST(floor(r2 / r1 * 1000000) AS BIGINT)
                              AS mu_ppm
                     FROM two
                     WHERE r1 > 0 AND r2 IS NOT NULL),
              f AS (SELECT va, mu_ppm FROM mu WHERE mu_ppm > 1000000),
              g AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
                           CAST(sum($lmu - $lone) AS BIGINT)
                             AS denom_bits
                    FROM f)
          SELECT n_points, denom_bits,
                 CAST(n_points AS DOUBLE) * 1048576.0
                   / (CAST(denom_bits AS DOUBLE) * 0.6931471805599453)
                   AS id_hat
          FROM g"""
      }),

    // Hapax-legomena share per language: the vocabulary-richness /
    // boilerplate tripwire next to Heaps' law — a corpus whose hapax
    // share collapses is template-flooded. Exact ppm floor division.
    Query("text_hapax_ratio", (s, dir) =>
      // pinned tokenized corpus (§2.4; r11 — the pinned build carries
      // the spread-before-tokenize this query used to do itself; its
      // cpu reads LOWER off the cache: 5.7 → 3.7 cpu-s measured)
      Shared.corpusTokens(s, dir)
        .select(col("lang"), col("w").as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("tf"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_types"),
             sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .withColumn("hapax_ppm", expr("(1000000 * n_hapax) DIV n_types"))
        .orderBy("lang"),
      Some("""WITH f AS (SELECT lang, token, count(*) AS tf FROM (
                SELECT lang, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS token
                FROM documents) GROUP BY 1, 2)
         SELECT lang, count(*) AS n_types,
                CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax,
                CAST(1000000 * sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)
                     // count(*) AS BIGINT) AS hapax_ppm
         FROM f GROUP BY 1 ORDER BY 1""")),

    // Per-bit balance of the corpus simhash — the dedup-health sibling of
    // the sampler-hash KS audit: a biased bit halves banding entropy and
    // floods buckets. Imbalance 2·n_set − n, the 3.1σ critical compare in
    // scaled integers ((2s−n)²·100 > n·961) so the flag is portable.
    Query("dedup_simhash_bit_balance", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      Tables.documents(s, dir)
        .select(SimHash.simhash32(col("text")).as("simhash"))
        .select(col("simhash"),
          explode(sequence(lit(0L), lit(31L))).as("bit"))
        .groupBy("bit")
        .agg(sum(expr("(simhash div shiftleft(1, int(bit))) % 2"))
               .as("n_set"),
             count(lit(1)).as("n_docs"))
        .withColumn("imbalance", col("n_set") * 2 - col("n_docs"))
        .withColumn("biased_flag",
          when(dec(col("imbalance")) * dec(col("imbalance")) * lit(100L)
                 > dec(col("n_docs")) * lit(961L), 1L).otherwise(0L))
        .select("bit", "n_set", "n_docs", "imbalance", "biased_flag")
        .orderBy("bit")
    },
      Some(s"""WITH h AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
              sh AS (SELECT doc_id, $duckSimhash AS simhash FROM h),
              bb AS (SELECT bit,
                            CAST(sum((sh.simhash // (1 << bit)) % 2)
                                 AS BIGINT) AS n_set,
                            count(*) AS n_docs
                     FROM sh CROSS JOIN
                       (SELECT unnest(generate_series(0, 31)) AS bit) b
                     GROUP BY 1)
          SELECT CAST(bit AS BIGINT) AS bit, n_set, n_docs,
                 2 * n_set - n_docs AS imbalance,
                 CASE WHEN CAST(2 * n_set - n_docs AS HUGEINT)
                           * (2 * n_set - n_docs) * 100
                           > CAST(n_docs AS HUGEINT) * 961
                      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
                 END AS biased_flag
          FROM bb ORDER BY bit""")),

    // Hubness census of the embedding space: the k-occurrence histogram
    // N_k(x) = how many vectors list x in their directed bucket-bounded
    // top-3 neighbor lists. Hubs (N_k ≫ k) poison ANN recall and dedup
    // canopies; antihubs (N_k = 0, kept explicit via the left join) are
    // unreachable — this is the standard diagnostic for both, over the
    // same LSH candidate generation as every other sim_* query.
    Query("emb_hubness", (s, dir) =>
      graft.similarity.HyperplaneLsh
        .kOccurrence(Tables.embeddings(s, dir), nPlanes = 4, dim = 64, k = 3)
        .groupBy("n_k").agg(count(lit(1)).as("n_vectors"))
        .orderBy("n_k"),
      Some {
      val planeLits = graft.similarity.HyperplaneLsh.planes(4, 64)
        .map(_.map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]"))
      val bits = planeLits.zipWithIndex.map { case (pl, i) =>
        s"CASE WHEN ${duckDot("embedding", pl)} > 0 THEN ${1L << i} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH b AS (SELECT vec_id, embedding, $bits AS bucket
                     FROM embeddings),
              pairs AS (SELECT a.vec_id AS va, b2.vec_id AS vb,
                          ${duckDot("a.embedding", "b2.embedding")}
                            / (sqrt(${duckDot("a.embedding", "a.embedding")})
                               * sqrt(${duckDot("b2.embedding",
                                 "b2.embedding")})) AS cosine
                        FROM b a JOIN b b2 ON a.bucket = b2.bucket
                                           AND a.vec_id <> b2.vec_id),
              ranked AS (SELECT va, vb,
                           row_number() OVER (PARTITION BY va
                             ORDER BY cosine DESC, vb) AS rk
                         FROM pairs QUALIFY rk <= 3),
              occ AS (SELECT vb AS vec_id, count(*) AS occ
                      FROM ranked GROUP BY 1),
              allv AS (SELECT e.vec_id, coalesce(o.occ, 0) AS n_k
                       FROM embeddings e
                       LEFT JOIN occ o ON o.vec_id = e.vec_id)
          SELECT n_k, CAST(count(*) AS BIGINT) AS n_vectors
          FROM allv GROUP BY 1 ORDER BY 1"""
      }),

    // Held-out unigram perplexity — the data-quality statistic an LLM
    // pretraining pipeline runs per source: train add-one-smoothed
    // unigram counts on even doc_ids, score the odd half, cross-entropy
    // bits on the FixedLog2 lattice (order-free exact sums). Sources
    // whose held-out half surprises the other half's LM are drifted or
    // contaminated. Vocab join is the only shuffle beside the two
    // tokenize groupBys; the (T, V) scalars ride a 1-row broadcast.
    Query("text_heldout_perplexity", (s, dir) => {
      val L = graft.functions.FixedLog2.log2_fp _
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("w")).tracked
      val tr = tok.filter(col("doc_id") % 2 === 0)
        .groupBy("w").agg(count(lit(1)).as("c")).tracked
      val stats = tr.agg(sum("c").cast("long").as("t_train"),
        count(lit(1)).as("v_train"))
      tok.filter(col("doc_id") % 2 === 1)
        .join(tr, Seq("w"), "left")
        .crossJoin(broadcast(stats))
        .withColumn("bits_term",
          L(col("t_train") + col("v_train"))
            - L(coalesce(col("c"), lit(0L)) + 1L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("bits_term").cast("decimal(38,0)")).cast("long")
            .as("bits_q20"))
        .withColumn("bits_per_token",
          col("bits_q20").cast("double") / col("n_tokens").cast("double")
            / lit(1048576.0))
        .orderBy("source")
    },
      Some {
      val lTot =
        graft.functions.FixedLog2.sql("(SELECT t_train + v_train FROM stats)")
      val lCp = graft.functions.FixedLog2.sql("cp")
      s"""WITH tok AS (SELECT doc_id, source,
                              unnest(string_split(text, ' ')) AS w
                       FROM documents),
               tr AS (SELECT w, CAST(count(*) AS BIGINT) AS c
                      FROM tok WHERE doc_id % 2 = 0 GROUP BY 1),
               stats AS (SELECT CAST(sum(c) AS BIGINT) AS t_train,
                                CAST(count(*) AS BIGINT) AS v_train
                         FROM tr),
               ev AS (SELECT tok.source, coalesce(tr.c, 0) + 1 AS cp
                      FROM tok LEFT JOIN tr ON tr.w = tok.w
                      WHERE tok.doc_id % 2 = 1),
               terms AS (SELECT source, $lTot - $lCp AS bits_q20 FROM ev)
          SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(bits_q20) AS BIGINT) AS bits_q20,
                 CAST(sum(bits_q20) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / CAST(1048576 AS DOUBLE) AS bits_per_token
          FROM terms GROUP BY 1 ORDER BY 1"""
      }),

    // MATTR lexical diversity (moving-average type-token ratio): distinct
    // tokens per sliding 50-token window, averaged per source — the
    // length-robust diversity score (plain TTR collapses as docs grow;
    // MATTR does not). Entirely row-local via codegen higher-order
    // functions (transform/slice/array_distinct) — zero shuffle until
    // the per-source reduce.
    Query("text_mattr_diversity", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), split(col("text"), " ").as("toks"))
        .select(col("source"),
          greatest(size(col("toks")) - 49, lit(0)).cast("long")
            .as("n_windows"),
          coalesce(expr(
            """aggregate(transform(sequence(0, size(toks) - 50),
               i -> size(array_distinct(slice(toks, i + 1, 50)))),
               CAST(0 AS BIGINT), (a, x) -> a + x)"""), lit(0L))
            .as("dsum"))
        .filter(col("n_windows") > 0)
        .groupBy("source")
        .agg(sum("n_windows").cast("long").as("n_windows"),
          sum("dsum").cast("long").as("distinct_sum"))
        .withColumn("mattr", col("distinct_sum").cast("double")
          / col("n_windows").cast("double") / lit(50.0))
        .orderBy("source"),
      Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
                    FROM documents),
              e AS (SELECT doc_id, source,
                           CAST(coalesce(list_sum(list_transform(
                             generate_series(0, len(toks) - 50),
                             i -> len(list_distinct(
                               list_slice(toks, i + 1, i + 50))))), 0)
                             AS BIGINT) AS dsum,
                           CAST(greatest(len(toks) - 49, 0) AS BIGINT)
                             AS n_windows
                    FROM t)
         SELECT source,
                CAST(sum(n_windows) AS BIGINT) AS n_windows,
                CAST(sum(dsum) AS BIGINT) AS distinct_sum,
                CAST(sum(dsum) AS DOUBLE)
                  / CAST(sum(n_windows) AS DOUBLE) / CAST(50 AS DOUBLE)
                  AS mattr
         FROM e WHERE n_windows > 0 GROUP BY 1 ORDER BY 1""")),

    // Recall@k curve for the IVF index against brute-force ground truth —
    // one number per k ∈ {1,3,5,10} instead of sim_ivf_recall's single
    // operating point: the tuning curve an ANN deployment reads before
    // picking k/nprobe. Ground truth is query-bounded (10 probes), so
    // the brute pass is a bounded cross, and both sides reuse the shared
    // Similarity machinery.
    Query("sim_recall_at_k_curve", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < 10)
      val gt = graft.similarity.Similarity
        .bruteForceTopK(emb, probes, k = 10)
        .select(col("query_id"), col("vec_id"), col("rank").as("gr"))
      val ivf = graft.similarity.Similarity
        .ivfProbeTopK(emb, emb.filter(col("vec_id") < 8), probes,
          nprobe = 2, k = 10)
        .select(col("query_id"), col("vec_id"), col("rank").as("ir"))
      val j = gt.join(ivf, Seq("query_id", "vec_id")).tracked
      val ks = Tables.embeddings(s, dir).sparkSession
        .range(0, 1).select(explode(typedLit(Seq(1L, 3L, 5L, 10L))).as("k"))
      ks.join(j, col("gr") <= col("k") && col("ir") <= col("k"), "left")
        .groupBy("k")
        .agg(sum(when(col("gr").isNotNull, 1L).otherwise(0L)).as("n_hits"))
        .select(col("k"), col("n_hits"),
          (col("k") * 10L).as("n_possible"),
          (col("n_hits").cast("double") / (col("k") * 10L).cast("double"))
            .as("recall_at_k"))
        .orderBy("k")
    },
      Some {
      def dot(a: String, b: String) =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |  list_transform(generate_series(1, len($a)), i ->
           |    CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
           |  (x, y) -> x + y)""".stripMargin
      def cs(a: String, b: String) =
        s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS eq
                     FROM embeddings WHERE vec_id < 10),
              gt AS (SELECT query_id, vec_id, rank AS gr FROM (
                       SELECT query_id, vec_id,
                         row_number() OVER (PARTITION BY query_id ORDER BY
                           ${cs("eq", "embedding")} DESC, vec_id ASC)
                           AS rank
                       FROM q JOIN embeddings ON vec_id <> query_id)
                     WHERE rank <= 10),
              c AS (SELECT vec_id AS centroid_id, embedding AS ec
                    FROM embeddings WHERE vec_id < 8),
              asg AS (SELECT centroid_id, vec_id, embedding FROM (
                        SELECT e.vec_id, c.centroid_id, e.embedding,
                          row_number() OVER (PARTITION BY e.vec_id ORDER BY
                            ${cs("e.embedding", "c.ec")} DESC,
                            c.centroid_id ASC) AS rn
                        FROM embeddings e CROSS JOIN c)
                      WHERE rn = 1),
              prb AS (SELECT query_id, centroid_id, emb_q FROM (
                        SELECT q2.vec_id AS query_id, c.centroid_id,
                               q2.embedding AS emb_q,
                          row_number() OVER (PARTITION BY q2.vec_id
                            ORDER BY ${cs("q2.embedding", "c.ec")} DESC,
                            c.centroid_id ASC) AS rn
                        FROM embeddings q2 CROSS JOIN c
                        WHERE q2.vec_id < 10)
                      WHERE rn <= 2),
              sc AS (SELECT p.query_id, a.vec_id,
                            ${cs("p.emb_q", "a.embedding")} AS cosine
                     FROM prb p JOIN asg a USING (centroid_id)
                     WHERE a.vec_id <> p.query_id),
              ivf AS (SELECT query_id, vec_id, rank AS ir FROM (
                        SELECT query_id, vec_id,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
                        FROM sc)
                      WHERE rank <= 10),
              j AS (SELECT gt.gr, ivf.ir FROM gt
                    JOIN ivf ON ivf.query_id = gt.query_id
                            AND ivf.vec_id = gt.vec_id),
              ks AS (SELECT CAST(unnest([1, 3, 5, 10]) AS BIGINT) AS k)
          SELECT ks.k,
                 CAST(coalesce(sum(CASE WHEN j.gr <= ks.k
                                         AND j.ir <= ks.k
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_hits,
                 CAST(ks.k * 10 AS BIGINT) AS n_possible,
                 CAST(coalesce(sum(CASE WHEN j.gr <= ks.k
                                         AND j.ir <= ks.k
                                    THEN 1 ELSE 0 END), 0) AS DOUBLE)
                   / CAST(ks.k * 10 AS DOUBLE) AS recall_at_k
          FROM ks LEFT JOIN j ON TRUE
          GROUP BY ks.k ORDER BY ks.k"""
      }),

    // Sliding-span duplication: stride-8 32-char shingles catch text a
    // fixed-grid chunk pass (dedup_passage_exact) misses when the
    // duplicate is SHIFTED by an insertion upstream. A span counts as
    // duplicated only when it appears in a DIFFERENT document (within-doc
    // repetition is text_repetition's signal, not dedup's). Span
    // generation is per-row arithmetic; corpus-wide detection is one
    // groupBy(span) — the same two-shuffle shape at any scale.
    Query("dedup_sliding_span", (s, dir) => {
      val spans = Tables.documents(s, dir)
        .filter(col("n_chars") >= 32)
        .select(col("doc_id"),
          explode(sequence(lit(0L),
            expr("(n_chars - 32) DIV 8"))).as("i"),
          col("text"))
        .select(col("doc_id"),
          col("text").substr((col("i") * 8 + 1).cast("int"), lit(32))
            .as("span"))
      val occ = spans.groupBy("span")
        .agg(countDistinct(col("doc_id")).as("nd"))
      spans.join(occ, "span")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_spans"), col("n_dup"),
          (col("n_dup").cast("double") / col("n_spans").cast("double"))
            .as("dup_ratio"))
        .orderBy("doc_id")
    },
      // stride-8 sliding 32-char shingles; duplicated = appears in a
      // DIFFERENT document; sums leave HUGEINT via BIGINT before the one
      // IEEE division (house lattice rule)
      Some("""WITH d AS (SELECT doc_id, text, n_chars FROM documents
                    WHERE n_chars >= 32),
     f AS (SELECT doc_id, text,
                  CAST(unnest(generate_series(0, (n_chars - 32) // 8))
                    AS BIGINT) AS i
           FROM d),
     sp AS (SELECT doc_id,
                   substr(text, CAST(i * 8 + 1 AS INT), 32) AS span
            FROM f),
     occ AS (SELECT span, count(DISTINCT doc_id) AS nd
             FROM sp GROUP BY 1)
         SELECT sp.doc_id, count(*) AS n_spans,
                CAST(sum(CASE WHEN occ.nd > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup,
                CAST(CAST(sum(CASE WHEN occ.nd > 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS dup_ratio
         FROM sp JOIN occ USING (span)
         GROUP BY 1 ORDER BY 1""")),

    // Maximum-inner-product search with Cauchy–Schwarz pruning: the
    // retrieval shape for un-normalized embeddings (recommenders, reward
    // models) where cosine ANN doesn't apply. One corpus scan computes
    // norms; a 32-vector highest-norm seed set gives each query an exact
    // k-th-best floor θ; only vectors with ‖q‖·‖x‖ ≥ θ can enter the
    // true top-k (q·x ≤ ‖q‖‖x‖), so the exact dot runs on the survivors
    // only — prune-then-verify, the posture that makes exact MIPS
    // tractable when norms are skewed. n_candidates exposes the prune.
    Query("sim_mips_norm_pruned", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      import graft.functions.VecOps
      val emb = Tables.embeddings(s, dir)
      val xs = emb.select(col("vec_id"), col("embedding").as("ex"))
        .withColumn("nx", sqrt(VecOps.dot(col("ex"), col("ex"))))
        .tracked // scanned by the seed pick and the pruned verify
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
        .withColumn("nq", sqrt(VecOps.dot(col("eq"), col("eq"))))
      val seeds = xs.orderBy(col("nx").desc, col("vec_id")).limit(32)
      val wq = W.partitionBy("query_id")
        .orderBy(col("dot").desc, col("vec_id"))
      val theta = broadcast(q)
        .join(seeds, col("vec_id") =!= col("query_id"))
        .withColumn("dot", VecOps.dot(col("eq"), col("ex")))
        .withColumn("r", row_number().over(wq))
        .filter(col("r") === 5)
        .select(col("query_id"), col("dot").as("theta"))
      val cand = xs
        .join(broadcast(q.join(theta, "query_id")),
          col("vec_id") =!= col("query_id")
            && col("nq") * col("nx") >= col("theta"))
        .withColumn("dot", VecOps.dot(col("eq"), col("ex")))
        .tracked // ranked AND counted
      val nc = cand.groupBy("query_id")
        .agg(count(lit(1)).as("n_candidates"))
      cand.withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= 5)
        .join(broadcast(nc), "query_id")
        .select(col("query_id"), col("rank"), col("vec_id"), col("dot"),
          col("n_candidates"))
        .orderBy("query_id", "rank")
    },
      // same double fold as the sim family's duckDot; the candidate set is
      // decided by IEEE-identical norm products on both engines
      Some(s"""WITH x AS (SELECT vec_id, embedding AS ex,
                   sqrt(${duckDot("embedding", "embedding")}) AS nx
            FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS eq,
                   sqrt(${duckDot("embedding", "embedding")}) AS nq
            FROM embeddings WHERE vec_id < 10),
      seeds AS (SELECT vec_id, ex, nx FROM x
                ORDER BY nx DESC, vec_id LIMIT 32),
      ss AS (SELECT query_id, s.vec_id, ${duckDot("eq", "ex")} AS dot
             FROM q JOIN seeds s ON s.vec_id <> query_id),
      th AS (SELECT query_id, dot AS theta
             FROM (SELECT query_id, dot,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY dot DESC, vec_id) AS r
                   FROM ss) WHERE r = 5),
      cand AS (SELECT q.query_id, x.vec_id, ${duckDot("eq", "ex")} AS dot
               FROM q JOIN th USING (query_id)
               JOIN x ON x.vec_id <> q.query_id
                     AND q.nq * x.nx >= th.theta),
      nc AS (SELECT query_id, count(*) AS n_candidates
             FROM cand GROUP BY 1),
      rk AS (SELECT query_id, vec_id, dot,
                    CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY dot DESC, vec_id) AS INT) AS rank
             FROM cand)
          SELECT rk.query_id, rk.rank, rk.vec_id, rk.dot, nc.n_candidates
          FROM rk JOIN nc USING (query_id)
          WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Reciprocal-rank fusion of two retrieval rankings (cosine and raw
    // inner product — they genuinely disagree on un-normalized vectors):
    // the standard hybrid-search combiner, RRF(x) = Σ_r 1/(60 + rank_r),
    // on the exact q20 lattice 1048576 DIV (60 + r) so fusion scores are
    // order-free integer sums. One scored pass feeds both rankings;
    // fusion touches only the two bounded top-20 lists per query —
    // ranker fan-in, never a corpus rescan, at any scale.
    Query("sim_rrf_fusion", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      import graft.functions.VecOps
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
      val scored = emb.select(col("vec_id"), col("embedding").as("ex"))
        .join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("dot", VecOps.dot(col("eq"), col("ex")))
        .withColumn("cosine", VecOps.cosine(col("eq"), col("ex")))
        .tracked // one pass, two rankings
      def top20(by: String) = scored
        .withColumn("r", row_number().over(W.partitionBy("query_id")
          .orderBy(col(by).desc, col("vec_id"))))
        .filter(col("r") <= 20)
        .select(col("query_id"), col("vec_id"),
          expr("1048576 DIV (60 + r)").as("term"))
      top20("cosine").unionAll(top20("dot"))
        .groupBy("query_id", "vec_id")
        .agg(sum("term").as("rrf_q20"), count(lit(1)).as("n_lists"))
        .withColumn("rank", row_number().over(W.partitionBy("query_id")
          .orderBy(col("rrf_q20").desc, col("vec_id"))))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("vec_id"),
          col("rrf_q20"), col("n_lists"),
          (col("rrf_q20").cast("double") / lit(1048576.0)).as("rrf"))
        .orderBy("query_id", "rank")
    },
      // both rankings come off ONE scored pass; the q20 RRF terms
      // 1048576 // (60 + r) are exact integers so fused scores compare
      // order-free; rank CAST INT mirrors Spark's row_number type
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS eq
                     FROM embeddings WHERE vec_id < 10),
      sc AS (SELECT query_id, vec_id,
                    ${duckDot("eq", "embedding")} AS dot,
                    ${duckDot("eq", "embedding")}
                      / (sqrt(${duckDot("eq", "eq")})
                         * sqrt(${duckDot("embedding", "embedding")}))
                      AS cosine
             FROM q JOIN embeddings ON vec_id <> query_id),
      rc AS (SELECT query_id, vec_id, 1048576 // (60 + r) AS term
             FROM (SELECT query_id, vec_id,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS r
                   FROM sc) WHERE r <= 20),
      rd AS (SELECT query_id, vec_id, 1048576 // (60 + r) AS term
             FROM (SELECT query_id, vec_id,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY dot DESC, vec_id) AS r
                   FROM sc) WHERE r <= 20),
      u AS (SELECT * FROM rc UNION ALL SELECT * FROM rd),
      f AS (SELECT query_id, vec_id,
                   CAST(sum(term) AS BIGINT) AS rrf_q20,
                   count(*) AS n_lists
            FROM u GROUP BY 1, 2),
      rk AS (SELECT query_id, vec_id, rrf_q20, n_lists,
                    CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY rrf_q20 DESC, vec_id) AS INT) AS rank
             FROM f)
          SELECT query_id, rank, vec_id, rrf_q20, n_lists,
                 CAST(rrf_q20 AS DOUBLE) / 1048576 AS rrf
          FROM rk WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Tokenizer fertility by language: subword pieces per word — the
    // tokenizer-equity number a multilingual pretraining pipeline
    // tracks (a high-fertility language pays more sequence length per
    // word, so token-denominated mixture budgets over-charge it).
    // Pieces ride the fused TextStats pass; one partial-aggregable
    // groupBy on language.
    Query("text_tokenizer_fertility", (s, dir) =>
      TextAnalysis.withTokenStats(Tables.documents(s, dir))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("n_words"),
          sum("n_subwords").cast("long").as("n_pieces"))
        .withColumn("fertility",
          col("n_pieces").cast("double") / col("n_words").cast("double"))
        .orderBy("lang"),
      Some("""WITH t AS (SELECT doc_id, lang,
                      regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS toks
                    FROM documents),
              p AS (SELECT doc_id, lang,
                      CAST(len(toks) AS BIGINT) AS n_words,
                      CAST(coalesce(list_sum(list_transform(toks,
                        t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), 0)
                        AS BIGINT) AS n_pieces
                    FROM t)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(n_words) AS BIGINT) AS n_words,
                CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
                CAST(sum(n_pieces) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
                  AS fertility
         FROM p GROUP BY 1 ORDER BY 1""")),

    // Multi-epoch sampling plan — the budget step after the mixture
    // weights (the Llama-style data plan): per-source token mass,
    // √mass weight (the sample_domain_mixture surrogate), a 10M-token
    // budget split on the integer lattice; a source whose allocation
    // exceeds its mass REPEATS — epochs = ceil(alloc/mass) capped at 4
    // (data-quality caps repetition) — and the per-epoch draw rate is
    // re-expressed in ppm of the epoch-expanded mass. All ceilings/
    // splits are nonneg integer DIV (trunc ≡ floor, engine-portable);
    // two partial-aggregable passes + a 1-row Σwt scalar combine.
    Query("sample_epoch_plan", (s, dir) => {
      val g = Tables.documents(s, dir)
        .select(col("source"),
          size(TextAnalysis.tokens("text")).cast("long").as("n_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("mass"))
        .filter(col("mass") > 0)
        .withColumn("wt",
          floor(sqrt(col("mass").cast("double"))).cast("long"))
      val tot = g.agg(sum("wt").as("total_wt"))
      g.crossJoin(broadcast(tot))
        .withColumn("alloc", expr("(10000000 * wt) div total_wt"))
        .withColumn("epochs", least(lit(4L),
          greatest(lit(1L), expr("(alloc + mass - 1) div mass"))))
        .withColumn("drawn", least(col("alloc"), col("epochs") * col("mass")))
        .withColumn("rate_ppm",
          expr("(1000000 * drawn) div (epochs * mass)"))
        .select("source", "n_docs", "mass", "wt", "alloc", "epochs",
          "drawn", "rate_ppm")
        .orderBy("source")
    },
      Some("""WITH t AS (SELECT source,
                      CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS BIGINT) AS n_tokens
                    FROM documents),
              g AS (SELECT source, count(*) AS n_docs,
                      CAST(sum(n_tokens) AS BIGINT) AS mass
                    FROM t GROUP BY 1 HAVING sum(n_tokens) > 0),
              w AS (SELECT *, CAST(floor(sqrt(CAST(mass AS DOUBLE)))
                      AS BIGINT) AS wt FROM g),
              tot AS (SELECT CAST(sum(wt) AS BIGINT) AS total_wt FROM w),
              a AS (SELECT w.*, (10000000 * wt) // total_wt AS alloc
                    FROM w CROSS JOIN tot),
              e AS (SELECT *, least(4, greatest(1,
                      (alloc + mass - 1) // mass)) AS epochs FROM a),
              d AS (SELECT *, least(alloc, epochs * mass) AS drawn FROM e)
         SELECT source, n_docs, mass, wt, alloc,
                CAST(epochs AS BIGINT) AS epochs, drawn,
                (1000000 * drawn) // (epochs * mass) AS rate_ppm
         FROM d ORDER BY source""")),

    // SemDeDup (Abbas et al. 2023): cluster the corpus by nearest
    // centroid, then detect embedding near-duplicates ONLY within each
    // cluster — the scale path for semantic dedup
    // (dedup_embedding_cosine's bounded global pairs are the ground
    // truth; here the pair space is cluster-keyed, so the self-join
    // shuffles on centroid_id and the global O(n²) never materializes —
    // cluster sizes are controlled by the centroid count, the same
    // lever IVF uses). Prune rule: a vector is dropped when a LOWER-id
    // vector in its cluster matches at cosine ≥ 0.35 (deterministic
    // exemplar; threshold matches the corpus' near-dup ground truth).
    Query("dedup_semdedup", (s, dir) => {
      import graft.functions.VecOps
      val emb = Tables.embeddings(s, dir)
      val asg = Similarity
        .assignToCentroids(emb, emb.filter(col("vec_id") < 8)).tracked
      val a = asg.select(col("centroid_id"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"))
      val b = asg.select(col("centroid_id"), col("vec_id").as("vec_b"),
        col("embedding").as("eb"))
      val pairs = a.join(b, Seq("centroid_id"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cosine", VecOps.cosine(col("ea"), col("eb")))
        .filter(col("cosine") >= 0.35)
        .tracked // pair census AND pruned-set derivation
      val pruned = pairs.select(col("centroid_id"), col("vec_b")).distinct()
        .groupBy("centroid_id").agg(count(lit(1)).as("n_pruned"))
      asg.groupBy("centroid_id").agg(count(lit(1)).as("n_vectors"))
        .join(pairs.groupBy("centroid_id")
          .agg(count(lit(1)).as("n_dup_pairs")), Seq("centroid_id"), "left")
        .join(pruned, Seq("centroid_id"), "left")
        .select(col("centroid_id"), col("n_vectors"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          coalesce(col("n_pruned"), lit(0L)).as("n_pruned"),
          ((col("n_vectors") - coalesce(col("n_pruned"), lit(0L)))
            .cast("double") / col("n_vectors").cast("double"))
            .as("keep_ratio"))
        .orderBy("centroid_id")
    },
      Some {
      def cosv(a: String, b: String) =
        s"${Shared.duckDot(a, b)} / (sqrt(${Shared.duckDot(a, a)}) " +
          s"* sqrt(${Shared.duckDot(b, b)}))"
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ec
                     FROM embeddings WHERE vec_id < 8),
              d AS (SELECT vec_id, cid,
                           ${cosv("embedding", "ec")} AS cosv
                    FROM embeddings CROSS JOIN c),
              a AS (SELECT vec_id, cid FROM
                      (SELECT vec_id, cid, row_number() OVER (
                         PARTITION BY vec_id
                         ORDER BY cosv DESC, cid ASC) AS rn
                       FROM d) WHERE rn = 1),
              av AS (SELECT a.vec_id, a.cid, embeddings.embedding
                     FROM a JOIN embeddings USING (vec_id)),
              p AS (SELECT l.cid, l.vec_id AS va, r.vec_id AS vb,
                           ${cosv("l.embedding", "r.embedding")} AS cosv
                    FROM av l JOIN av r
                      ON l.cid = r.cid AND l.vec_id < r.vec_id),
              pf AS (SELECT cid, va, vb FROM p WHERE cosv >= 0.35),
              np AS (SELECT cid, count(DISTINCT vb) AS n_pruned,
                            count(*) AS n_dup_pairs
                     FROM pf GROUP BY 1),
              nv AS (SELECT cid, count(*) AS n_vectors FROM av GROUP BY 1)
         SELECT nv.cid AS centroid_id,
                CAST(nv.n_vectors AS BIGINT) AS n_vectors,
                CAST(coalesce(np.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
                CAST(coalesce(np.n_pruned, 0) AS BIGINT) AS n_pruned,
                CAST(nv.n_vectors - coalesce(np.n_pruned, 0) AS DOUBLE)
                  / CAST(nv.n_vectors AS DOUBLE) AS keep_ratio
         FROM nv LEFT JOIN np ON np.cid = nv.cid
         ORDER BY 1"""
      }),

    // MMR diversified rerank (maximal marginal relevance — the hybrid
    // retrieval stage a RAG pipeline runs after ANN): per query, take
    // the top-10 cosine candidates, then greedily pick 5 maximizing
    // 0.7·rel − 0.3·max-sim-to-already-picked (ties to lower vec_id).
    // The greedy loop is PER-QUERY-LOCAL: one shuffle groups each
    // query's bounded candidate pool + 10×10 sim matrix into a single
    // row, and the 5-step selection folds inside a codegen higher-order
    // aggregate — no per-iteration corpus shuffles, so reranking a
    // billion queries is one exchange keyed by query_id.
    Query("sim_mmr_rerank", (s, dir) => {
      import graft.functions.VecOps
      val W = org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
      val cands = emb.select(col("vec_id"), col("embedding").as("ex"))
        .join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("rel", VecOps.cosine(col("eq"), col("ex")))
        .withColumn("rk", row_number().over(W.partitionBy("query_id")
          .orderBy(col("rel").desc, col("vec_id"))))
        .filter(col("rk") <= 10)
        .tracked // pool frame feeds the sim matrix AND the fold row
      val sims = cands.select(col("query_id"), col("vec_id").as("a"),
          col("ex").as("ea"))
        .join(cands.select(col("query_id"), col("vec_id").as("b"),
          col("ex").as("eb")), Seq("query_id"))
        .filter(col("a") =!= col("b"))
        .withColumn("sim", VecOps.cosine(col("ea"), col("eb")))
        .groupBy("query_id")
        .agg(sort_array(collect_list(struct(col("a"), col("b"),
          col("sim")))).as("sims"))
      val pools = cands.groupBy("query_id")
        .agg(sort_array(collect_list(struct(col("vec_id"), col("rel"))))
          .as("cand"))
      pools.join(sims, Seq("query_id"))
        .withColumn("picks", expr("""
          aggregate(sequence(1, 5), CAST(array() AS ARRAY<BIGINT>),
            (sel, step) -> array_append(sel,
              array_min(transform(
                filter(cand, c -> NOT array_contains(sel, c.vec_id)),
                c -> named_struct(
                  'ns', -(CAST(0.7 AS DOUBLE) * c.rel
                    - CAST(0.3 AS DOUBLE) * coalesce(
                        array_max(transform(
                          filter(sims, p -> p.a = c.vec_id
                            AND array_contains(sel, p.b)),
                          p -> p.sim)), CAST(0.0 AS DOUBLE))),
                  'id', c.vec_id))).id))"""))
        .select(col("query_id"),
          posexplode(col("picks")).as(Seq("pos", "vec_id")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("vec_id"))
        .orderBy("query_id", "rank")
    },
      Some {
      def cosv(a: String, b: String) =
        s"${Shared.duckDot(a, b)} / (sqrt(${Shared.duckDot(a, a)}) " +
          s"* sqrt(${Shared.duckDot(b, b)}))"
      s"""WITH RECURSIVE
            qr AS (SELECT vec_id AS qid, embedding AS eq
                   FROM embeddings WHERE vec_id < 8),
            sc AS (SELECT qid, vec_id, ${cosv("eq", "embedding")} AS rel
                   FROM embeddings CROSS JOIN qr WHERE vec_id <> qid),
            cand AS (SELECT qid, vec_id, rel FROM
                       (SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY rel DESC, vec_id) AS rn FROM sc)
                     WHERE rn <= 10),
            ce AS (SELECT cand.qid, cand.vec_id, cand.rel,
                          embeddings.embedding AS e
                   FROM cand JOIN embeddings USING (vec_id)),
            ps AS (SELECT l.qid, l.vec_id AS a, r.vec_id AS b,
                          ${cosv("l.e", "r.e")} AS sim
                   FROM ce l JOIN ce r
                     ON l.qid = r.qid AND l.vec_id <> r.vec_id),
            sel AS (
              SELECT qid, 1 AS step,
                     [(min({'ns': -(CAST(0.7 AS DOUBLE) * rel
                         - CAST(0.3 AS DOUBLE) * CAST(0.0 AS DOUBLE)),
                       'id': vec_id})).id] AS picks
              FROM cand GROUP BY qid
              UNION ALL
              SELECT s.qid, s.step + 1,
                     list_append(s.picks,
                       (min({'ns': -(CAST(0.7 AS DOUBLE) * c.rel
                            - CAST(0.3 AS DOUBLE) * coalesce(
                                (SELECT max(p.sim) FROM ps p
                                 WHERE p.qid = s.qid AND p.a = c.vec_id
                                   AND list_contains(s.picks, p.b)),
                                CAST(0.0 AS DOUBLE))),
                          'id': c.vec_id})).id)
              FROM sel s JOIN cand c
                ON c.qid = s.qid AND NOT list_contains(s.picks, c.vec_id)
              WHERE s.step < 5
              GROUP BY s.qid, s.step, s.picks)
          SELECT qid AS query_id, i AS rank, picks[i] AS vec_id
          FROM sel, unnest(generate_series(1, len(picks))) t(i)
          WHERE step = 5 ORDER BY 1, 2"""
      }),

    // Intra-domain boilerplate census (the RefinedWeb/C4 line-dedup
    // analogue for a corpus whose docs carry no line structure): a word
    // 5-gram occurring in >= 3 DISTINCT documents of the same source is
    // template chrome, not content, and each doc is scored by the
    // fraction of its 5-grams that are boilerplate. gram_hashes emits
    // each doc's DISTINCT gram set, so the census groupBy counts docs
    // directly; detection is one (source, gram)-keyed partial-aggregable
    // groupBy and the scoring join is gram-keyed — never pairwise, and
    // per-source census shards scale with domain count, not corpus size.
    Query("text_boilerplate_spans", (s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(NgramJaccard.gram_hashes(col("text"), 5)).as("gram"))
        .tracked // census AND per-doc scoring scan it
      val boiler = grams.groupBy("source", "gram")
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 3)
      grams.join(boiler, Seq("source", "gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("n_docs").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_boiler"))
        .select(col("doc_id"), col("n_grams"), col("n_boiler"),
          (col("n_boiler").cast("double") / col("n_grams").cast("double"))
            .as("boiler_ratio"))
        .orderBy("doc_id")
    },
      Some(s"""WITH t AS (SELECT doc_id, source, $duckTokHashes AS th
                     FROM documents),
              g AS (SELECT doc_id, source, unnest(list_distinct(
                      list_transform(generate_series(1, len(th) - 4), i ->
                        ((((th[i] * 31 + th[i+1]) % 2147483647 * 31
                           + th[i+2]) % 2147483647 * 31
                           + th[i+3]) % 2147483647 * 31
                           + th[i+4]) % 2147483647))) AS gram
                    FROM t),
              b AS (SELECT source, gram FROM g
                    GROUP BY 1, 2 HAVING count(*) >= 3)
         SELECT g.doc_id, count(*) AS n_grams,
                CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_boiler,
                CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS boiler_ratio
         FROM g LEFT JOIN b ON b.source = g.source AND b.gram = g.gram
         GROUP BY 1 ORDER BY 1""")),

    // CCNet-style perplexity bucketing: score each held-out doc with the
    // train-half unigram LM (the text_heldout_perplexity model, exact
    // q20-lattice bits), rank docs within their declared language by
    // bits-per-token and cut head/middle/tail terciles — the quality
    // tiers CCNet feeds to pretraining mixture selection. Doc scores are
    // exact-integer sums; the per-doc bits-per-token is ONE division of
    // exact longs (bitwise portable); the tercile rank runs over the
    // per-doc AGGREGATE frame (three orders smaller than the token
    // stream) keyed by language — at 100 TB production would replace the
    // in-lang sort with histogram-approximated cuts, same bucket
    // semantics.
    Query("text_ccnet_buckets", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val L = graft.functions.FixedLog2.log2_fp _
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w")).tracked
      val tr = tok.filter(col("doc_id") % 2 === 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
      val stats = tr.agg(sum("c").cast("long").as("t_train"),
        count(lit(1)).as("v_train"))
      val perDoc = tok.filter(col("doc_id") % 2 === 1)
        .join(tr, Seq("w"), "left")
        .crossJoin(broadcast(stats))
        .withColumn("bits_term",
          L(col("t_train") + col("v_train"))
            - L(coalesce(col("c"), lit(0L)) + 1L))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("bits_term").cast("decimal(38,0)")).cast("long")
            .as("bits_q20"))
        .withColumn("bpt",
          col("bits_q20").cast("double") / col("n_tokens").cast("double"))
      perDoc
        .withColumn("rk", row_number().over(
          W.partitionBy("lang").orderBy(col("bpt"), col("doc_id"))))
        .withColumn("n_lang", count(lit(1)).over(W.partitionBy("lang")))
        .withColumn("bucket",
          when(col("rk") * 3 <= col("n_lang"), "head")
            .when(col("rk") * 3 <= col("n_lang") * 2, "middle")
            .otherwise("tail"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("n_tokens"),
          sum("bits_q20").cast("long").as("bits_q20"))
        .withColumn("bits_per_token",
          col("bits_q20").cast("double") / col("n_tokens").cast("double")
            / lit(1048576.0))
        .orderBy("lang", "bucket")
    },
      Some {
      val lTot =
        graft.functions.FixedLog2.sql("(SELECT t_train + v_train FROM stats)")
      val lCp = graft.functions.FixedLog2.sql("cp")
      s"""WITH tok AS (SELECT doc_id, lang,
                              unnest(string_split(text, ' ')) AS w
                       FROM documents),
               tr AS (SELECT w, CAST(count(*) AS BIGINT) AS c
                      FROM tok WHERE doc_id % 2 = 0 GROUP BY 1),
               stats AS (SELECT CAST(sum(c) AS BIGINT) AS t_train,
                                CAST(count(*) AS BIGINT) AS v_train
                         FROM tr),
               ev AS (SELECT tok.doc_id, tok.lang,
                             coalesce(tr.c, 0) + 1 AS cp
                      FROM tok LEFT JOIN tr ON tr.w = tok.w
                      WHERE tok.doc_id % 2 = 1),
               pd AS (SELECT doc_id, lang,
                             CAST(count(*) AS BIGINT) AS n_tokens,
                             CAST(sum($lTot - $lCp) AS BIGINT) AS bits_q20
                      FROM ev GROUP BY 1, 2),
               rk AS (SELECT *,
                             row_number() OVER (PARTITION BY lang
                               ORDER BY CAST(bits_q20 AS DOUBLE)
                                        / CAST(n_tokens AS DOUBLE),
                                        doc_id) AS rk,
                             count(*) OVER (PARTITION BY lang) AS n_lang
                      FROM pd),
               bk AS (SELECT lang, n_tokens, bits_q20,
                             CASE WHEN rk * 3 <= n_lang THEN 'head'
                                  WHEN rk * 3 <= n_lang * 2 THEN 'middle'
                                  ELSE 'tail' END AS bucket
                      FROM rk)
          SELECT lang, bucket, count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                 CAST(sum(bits_q20) AS BIGINT) AS bits_q20,
                 CAST(sum(bits_q20) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE)
                   / CAST(1048576 AS DOUBLE) AS bits_per_token
          FROM bk GROUP BY 1, 2 ORDER BY 1, 2"""
      }),

    // DSIR-style importance weighting (Xie et al.: Data Selection via
    // Importance Resampling): hashed unigram features (64 buckets over
    // the portable token hash), bucket log-probabilities for a TARGET
    // distribution (one source's docs) vs the RAW corpus, each +1
    // smoothed; a doc's importance weight is sum_b c_b * (log p_t(b) −
    // log p_r(b)) — the resampling key that tilts a crawl toward the
    // target domain. All logs are exact q20-lattice (FixedLog2), so
    // per-doc weights are order-free integer sums: bucket tables are
    // 64 rows (broadcast), the normalizer is a 1-row scalar combine,
    // and the only corpus-sized shuffles are two bucket-keyed groupBys.
    Query("text_dsir_weights", (s, dir) => {
      val L = graft.functions.FixedLog2.log2_fp _
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(TextAnalysis.tokens("text")).as("w"))
        .select(col("doc_id"), col("source"),
          (TextAnalysis.charFoldHash(col("w")) % 64).as("b"))
        .tracked // target counts, raw counts and doc-bucket counts
      val rc = tok.groupBy("b").agg(count(lit(1)).as("rc"))
      val tc = tok.filter(col("source") === "src0")
        .groupBy("b").agg(count(lit(1)).as("tc"))
      val wts = rc.join(tc, Seq("b"), "left")
        .select(col("b"),
          (L(coalesce(col("tc"), lit(0L)) + 1L) - L(col("rc") + 1L))
            .as("w_q20"))
      // per-token normalizer log(R+64) − log(T+64) (T = target mass):
      // constant across buckets, folded in once per token
      val norm = rc.agg(sum("rc").cast("long").as("rt"))
        .crossJoin(tc.agg(sum("tc").cast("long").as("tt")))
        .select((L(col("rt") + 64L) - L(col("tt") + 64L)).as("k_q20"))
      tok.groupBy("doc_id", "source", "b")
        .agg(count(lit(1)).as("cb"))
        .join(broadcast(wts), Seq("b"))
        .crossJoin(broadcast(norm))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("cb")).cast("long").as("n_tokens"),
          sum(col("cb") * (col("w_q20") + col("k_q20"))
            .cast("decimal(38,0)")).cast("long").as("weight_q20"))
        .withColumn("weight_bits",
          col("weight_q20").cast("double") / lit(1048576.0))
        .orderBy(col("weight_q20").desc, col("doc_id"))
        .limit(20)
    },
      Some {
      val lTcp = graft.functions.FixedLog2.sql("tcp")
      val lRcp = graft.functions.FixedLog2.sql("rcp")
      val lRt = graft.functions.FixedLog2.sql("rt64")
      val lTt = graft.functions.FixedLog2.sql("tt64")
      s"""WITH t AS (SELECT doc_id, source, $duckTokHashes AS th
                     FROM documents),
              tok AS (SELECT doc_id, source, unnest(th) AS h FROM t),
              bt AS (SELECT doc_id, source, h % 64 AS b FROM tok),
              rc AS (SELECT b, CAST(count(*) AS BIGINT) AS rc
                     FROM bt GROUP BY 1),
              tc AS (SELECT b, CAST(count(*) AS BIGINT) AS tc
                     FROM bt WHERE source = 'src0' GROUP BY 1),
              wp AS (SELECT rc.b, coalesce(tc.tc, 0) + 1 AS tcp,
                            rc.rc + 1 AS rcp
                     FROM rc LEFT JOIN tc ON tc.b = rc.b),
              wt AS (SELECT b, $lTcp - $lRcp AS w_q20 FROM wp),
              np AS (SELECT (SELECT sum(rc) + 64 FROM rc) AS rt64,
                            (SELECT coalesce(sum(tc), 0) + 64 FROM tc)
                              AS tt64),
              nk AS (SELECT $lRt - $lTt AS k_q20 FROM np),
              db AS (SELECT doc_id, source, b,
                            CAST(count(*) AS BIGINT) AS cb
                     FROM bt GROUP BY 1, 2, 3)
         SELECT doc_id, source, count(*) AS n_buckets,
                CAST(sum(cb) AS BIGINT) AS n_tokens,
                CAST(sum(cb * (wt.w_q20 + nk.k_q20)) AS BIGINT)
                  AS weight_q20,
                CAST(CAST(sum(cb * (wt.w_q20 + nk.k_q20)) AS BIGINT)
                  AS DOUBLE) / CAST(1048576 AS DOUBLE) AS weight_bits
         FROM db JOIN wt ON wt.b = db.b CROSS JOIN nk
         GROUP BY 1, 2 ORDER BY weight_q20 DESC, doc_id LIMIT 20"""
      }),

    // Good–Turing frequency spectrum: the frequency-of-frequencies table
    // N_r with the Turing-smoothed count r* = (r+1)·N_{r+1}/N_r and the
    // per-band probability mass r·N_r/N — the estimator behind "how much
    // unseen vocabulary is left" (row r=1's mass share IS the unseen-mass
    // estimate p₀ = N₁/N). Two partial-aggregable groupBys: token→count
    // at corpus scale, then count→count-of-counts on the tiny spectrum;
    // the r+1 lookup is a broadcast self-join of that spectrum, never a
    // window. Exact integers until the two final single divisions.
    Query("text_good_turing", (s, dir) => {
      val cnt = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens("text")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("r"))
      val fof = cnt.groupBy("r").agg(count(lit(1)).as("n_r")).tracked
      val tot = fof.agg(sum(col("r") * col("n_r")).cast("long")
        .as("n_total"))
      val nxt = fof.select((col("r") - 1L).as("r"),
        col("n_r").as("n_next"))
      fof.join(broadcast(nxt), Seq("r"), "left")
        .withColumn("n_next", coalesce(col("n_next"), lit(0L)))
        .crossJoin(broadcast(tot))
        .select(col("r"), col("n_r"), col("n_next"),
          (((col("r") + 1L) * col("n_next")).cast("double")
            / col("n_r").cast("double")).as("r_star"),
          ((col("r") * col("n_r")).cast("double")
            / col("n_total").cast("double")).as("mass_share"))
        // the LOW end of the spectrum (the 15 rarest bands present) is
        // where Good–Turing lives — a fixed r <= K cut can be empty on a
        // templated fixture whose rarest token still repeats > K times
        .orderBy("r").limit(15)
    },
      // frequency-of-frequencies + Turing smoothing; N is Σ r·N_r over the
      // FULL spectrum (computed before the display cut to the 15 rarest
      // bands, ORDER BY r LIMIT 15 — matching the engine)
      Some("""WITH t AS (SELECT unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS token
                    FROM documents),
              c AS (SELECT token, CAST(count(*) AS BIGINT) AS r
                    FROM t GROUP BY 1),
              fof AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
                      FROM c GROUP BY 1),
              tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_total
                      FROM fof)
         SELECT f.r, f.n_r,
                CAST(coalesce(nx.n_r, 0) AS BIGINT) AS n_next,
                CAST((f.r + 1) * coalesce(nx.n_r, 0) AS DOUBLE)
                  / CAST(f.n_r AS DOUBLE) AS r_star,
                CAST(f.r * f.n_r AS DOUBLE) / CAST(n_total AS DOUBLE)
                  AS mass_share
         FROM fof f LEFT JOIN fof nx ON nx.r = f.r + 1
         CROSS JOIN tot
         ORDER BY f.r LIMIT 15""")),

    // WordPiece-style greedy longest-match subword encode: vocabulary =
    // the 36 single chars (guaranteed fallback — no UNK) + the top-50
    // corpus tokens of length 2–6 (count desc, ties lexicographic), then
    // each token segments by repeatedly taking the LONGEST vocab prefix
    // — the BERT-family tokenizer's algorithm (BPE applies merges in
    // learned order; WordPiece matches longest-first against a fixed
    // vocab — a genuinely different segmenter). The greedy fold runs
    // inside a per-row higher-order aggregate over char positions (pos
    // overshoot past a short tail is harmless: the skipped steps are
    // no-ops), so encoding is row-local — zero shuffle after the two
    // vocab passes. The 86-entry vocab is schema-bounded: it collects
    // through the loud ceiling and inlines as literals (broadcast-free
    // because it is expression-sized, not data-sized).
    Query("text_wordpiece_encode", (s, dir) => {
      // pinned tokenized corpus (§2.4; r11) — the pinned build carries
      // the spread-before-explode this query used to do itself (sf10
      // scaling finding: the 1-task fixture scan serialized the
      // cpu-dense encode pass); the vocab pass + encode pass both read
      // the shared cache (cpu 8.5 → 7.9 measured)
      val toks = Shared.corpusTokens(s, dir)
        .select(col("lang"), col("w").as("tok"))
      val top = Exact.boundedCollect(
        toks.filter(length(col("tok")).between(2, 6))
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok").asc).limit(50),
        50, "wordpiece vocabulary")
        .map(_.getString(0))
      val vocab = (top ++ ('a' to 'z').map(_.toString)
        ++ ('0' to '9').map(_.toString))
        .map(t => s"'$t'").mkString("array(", ", ", ")")
      val pieces = expr(s"""aggregate(sequence(1, length(tok)),
          named_struct('pos', CAST(1 AS BIGINT), 'np', CAST(0 AS BIGINT)),
          (s, i) -> IF(i = s.pos,
            named_struct(
              'pos', s.pos + CASE
                WHEN array_contains($vocab, substr(tok, CAST(s.pos AS INT), 6)) THEN CAST(6 AS BIGINT)
                WHEN array_contains($vocab, substr(tok, CAST(s.pos AS INT), 5)) THEN CAST(5 AS BIGINT)
                WHEN array_contains($vocab, substr(tok, CAST(s.pos AS INT), 4)) THEN CAST(4 AS BIGINT)
                WHEN array_contains($vocab, substr(tok, CAST(s.pos AS INT), 3)) THEN CAST(3 AS BIGINT)
                WHEN array_contains($vocab, substr(tok, CAST(s.pos AS INT), 2)) THEN CAST(2 AS BIGINT)
                ELSE CAST(1 AS BIGINT) END,
              'np', s.np + CAST(1 AS BIGINT)),
            s),
          s -> s.np)""")
      toks.select(col("lang"), length(col("tok")).cast("long")
          .as("n_chars"), pieces.as("np"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum("n_chars").cast("long").as("sum_chars"),
          sum("np").cast("long").as("n_pieces"))
        .withColumn("fertility", col("n_pieces").cast("double")
          / col("n_tokens").cast("double"))
        .orderBy("lang")
    },
      // RELATIONAL mirror of the greedy fold: vocab as rows, per-position
      // longest match via a substr-equality join (match ⇒ the whole piece
      // fits, so the walk never overshoots), the greedy walk itself a
      // recursive CTE over (token, pos) — deliberately lambda-free: DuckDB
      // 1.0's vectorized nested lambdas mis-evaluate row-varying captures
      // on this shape (token 'fast' scored 4 pieces inside the corpus
      // stream but 1 piece standalone — same expression, different row
      // batch), so no oracle here trusts a lambda with an outer column
      Some("""WITH RECURSIVE
     tok AS (SELECT lang,
                  unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS tok
           FROM documents),
     vt AS (SELECT tok AS w, count(*) AS n FROM tok
            WHERE length(tok) BETWEEN 2 AND 6 GROUP BY 1),
     vr AS (SELECT w, row_number() OVER (ORDER BY n DESC, w ASC) AS rn
            FROM vt),
     vw AS (SELECT w FROM vr WHERE rn <= 50
            UNION ALL
            SELECT unnest(string_split('abcdefghijklmnopqrstuvwxyz0123456789', ''))),
     dtok AS (SELECT DISTINCT tok FROM tok),
     posl AS (SELECT tok, unnest(generate_series(1, length(tok))) AS i
              FROM dtok),
     cand AS (SELECT p.tok, p.i, CAST(max(length(vw.w)) AS BIGINT) AS l
              FROM posl p JOIN vw
                ON vw.w = substr(p.tok, CAST(p.i AS INT), length(vw.w))
              GROUP BY 1, 2),
     walk(tok, pos, np) AS (
       SELECT tok, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM dtok
       UNION ALL
       SELECT w.tok, w.pos + c.l, w.np + 1
       FROM walk w JOIN cand c ON c.tok = w.tok AND c.i = w.pos
       WHERE w.pos <= length(w.tok)),
     enc0 AS (SELECT tok, max(np) AS np FROM walk GROUP BY 1),
     enc AS (SELECT t.lang, CAST(length(t.tok) AS BIGINT) AS n_chars,
                    e.np
             FROM tok t JOIN enc0 e USING (tok))
         SELECT lang, count(*) AS n_tokens,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                CAST(sum(np) AS BIGINT) AS n_pieces,
                CAST(sum(np) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  AS fertility
         FROM enc GROUP BY 1 ORDER BY 1""")),

    // Kneser–Ney-smoothed bigram LM scored on a held-out split — the
    // canonical n-gram smoothing (absolute discount D = 3/4, an EXACT
    // binary fraction, plus the continuation-count backoff that makes KN
    // the strongest classical LM). Multiplying through by 4·c(v)·B turns
    // every probability into an exact integer ratio:
    //   p_num = max(4c(vw)−3, 0)·B + 3·N1+(v·)·N1+(·w),  p_den = 4c(v)·B
    // (unseen-history backoff: p = N1+(·w)/B). Cross-entropy bits ride
    // the portable FixedLog2 q20 lattice — order-free integer sums, one
    // final division. Train = even doc_ids, test = odd (the engine's
    // held-out convention). Scale: token-keyed groupBys + broadcast of
    // the 1-row type count; the v/w count frames join vocabulary-keyed.
    Query("text_kneser_ney_bits", (s, dir) => {
      val L = graft.functions.FixedLog2.log2_fp _
      val bg = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokens("text").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, size(t) - 1), i -> named_struct(" +
            "'v', element_at(t, i), 'w', element_at(t, i + 1)))"))
          .as("b"))
        .select((col("doc_id") % 2 === 0).as("is_train"), col("lang"),
          col("b.v").as("v"), col("b.w").as("w"))
        .tracked // train counts + the test probe share it
      val cnt = bg.filter(col("is_train")).groupBy("v", "w")
        .agg(count(lit(1)).as("c"))
        .tracked // history counts, continuation counts and B derive
      val cv = cnt.groupBy("v").agg(sum("c").cast("long").as("cv"),
        count(lit(1)).as("n1v"))
      val nw = cnt.groupBy("w").agg(count(lit(1)).as("n1w"))
      val bb = cnt.agg(count(lit(1)).as("b_types"))
      bg.filter(!col("is_train"))
        .join(cnt, Seq("v", "w"), "left")
        .join(cv, Seq("v"), "left")
        .join(nw, Seq("w"), "left")
        .crossJoin(broadcast(bb))
        // the ratio's num/den products ride DECIMAL(38,0) (c·4·B,
        // 3·N1v·N1w, cv·4·B all exceed BIGINT once bigram types ~ 1e9
        // meet history counts ~ 1e8) and re-enter BIGINT CHECKED — a
        // loud raise on overflow on BOTH engines (the oracle's HUGEINT
        // → BIGINT cast raises in DuckDB), never a silent Spark wrap
        .withColumn("num", graft.olap.Exact.checkedLong(
          when(col("cv").isNull,
              coalesce(col("n1w"), lit(0L)).cast("decimal(38,0)"))
            .otherwise(
              greatest(coalesce(col("c"), lit(0L)).cast("decimal(38,0)")
                  * 4 - 3, lit(0).cast("decimal(38,0)"))
                * col("b_types")
                + lit(3).cast("decimal(38,0)") * col("n1v")
                  * coalesce(col("n1w"), lit(0L)))))
        .withColumn("den", graft.olap.Exact.checkedLong(
          when(col("cv").isNull, col("b_types").cast("decimal(38,0)"))
            .otherwise(col("cv").cast("decimal(38,0)") * 4
              * col("b_types"))))
        .withColumn("bits_q20",
          when(col("num") > 0L, L(col("den")) - L(col("num")))
            .otherwise(lit(0L)))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("num") > 0L, 1L).otherwise(0L)).cast("long")
            .as("n_covered"),
          sum("bits_q20").cast("long").as("sum_bits_q20"))
        .withColumn("avg_bits", col("sum_bits_q20").cast("double")
          / (col("n_covered") * 1048576L).cast("double"))
        .withColumn("coverage", col("n_covered").cast("double")
          / col("n_test").cast("double"))
        .orderBy("lang")
    },
      // the exact-integer KN ratios with bits on the FixedLog2 lattice;
      // bigrams indexed relationally (unnest + positional access)
      Some {
      val lDen = graft.functions.FixedLog2.sql("den")
      val lNum = graft.functions.FixedLog2.sql("num")
      s"""WITH tk AS (SELECT doc_id % 2 = 0 AS is_train, lang,
                  regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS t
                FROM documents),
          ix AS (SELECT is_train, lang, t,
                        unnest(generate_series(1, len(t) - 1)) AS i
                 FROM tk WHERE len(t) >= 2),
          bg AS (SELECT is_train, lang, t[i] AS v, t[i+1] AS w FROM ix),
          cnt AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c
                  FROM bg WHERE is_train GROUP BY 1, 2),
          cv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv,
                        CAST(count(*) AS BIGINT) AS n1v
                 FROM cnt GROUP BY 1),
          nw AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w
                 FROM cnt GROUP BY 1),
          bb AS (SELECT CAST(count(*) AS BIGINT) AS b_types FROM cnt),
          te AS (SELECT bg.lang,
                   CAST(CASE WHEN cv.cv IS NULL
                       THEN CAST(coalesce(nw.n1w, 0) AS HUGEINT)
                     ELSE greatest(CAST(coalesce(cnt.c, 0) AS HUGEINT)
                              * 4 - 3, CAST(0 AS HUGEINT))
                            * bb.b_types
                          + CAST(3 AS HUGEINT) * cv.n1v
                            * coalesce(nw.n1w, 0) END AS BIGINT) AS num,
                   CAST(CASE WHEN cv.cv IS NULL
                       THEN CAST(bb.b_types AS HUGEINT)
                     ELSE CAST(cv.cv AS HUGEINT) * 4 * bb.b_types
                     END AS BIGINT) AS den
                 FROM bg LEFT JOIN cnt ON cnt.v = bg.v AND cnt.w = bg.w
                         LEFT JOIN cv ON cv.v = bg.v
                         LEFT JOIN nw ON nw.w = bg.w
                         CROSS JOIN bb
                 WHERE NOT bg.is_train),
          bt AS (SELECT lang, num,
                   CASE WHEN num > 0 THEN $lDen - $lNum
                   ELSE 0 END AS bits
                 FROM te)
         SELECT lang, count(*) AS n_test,
                CAST(sum(CASE WHEN num > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_covered,
                CAST(sum(bits) AS BIGINT) AS sum_bits_q20,
                CAST(CAST(sum(bits) AS BIGINT) AS DOUBLE)
                  / CAST(CAST(sum(CASE WHEN num > 0 THEN 1 ELSE 0 END)
                      AS BIGINT) * 1048576 AS DOUBLE) AS avg_bits,
                CAST(CAST(sum(CASE WHEN num > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS coverage
         FROM bt GROUP BY 1 ORDER BY 1"""
      }),

    // Onion (source-priority) dedup: near-dup clusters resolve to the
    // copy from the highest-priority SOURCE (priority = the source's
    // numeric rank; ties to lower doc_id) — cross-source survivorship is
    // a policy decision, not min-id, and the KILL MATRIX (which source's
    // docs die to which winner) is the curation report that justifies the
    // priority list. Derives from the pinned CC label frame (one
    // clustering per process+SF); winner pick is a partial-aggregable
    // struct-min per cluster; the matrix is a cluster-sized groupBy.
    Query("dedup_source_priority", (s, dir) => {
      val meta = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          expr("CAST(substr(source, 4) AS BIGINT)").as("prio"))
      val lab = nearDupLabels(s, dir).join(meta, "doc_id").tracked
      val win = lab.groupBy("canonical_id")
        .agg(min(struct(col("prio"), col("doc_id"), col("source")))
          .as("w"))
        .select(col("canonical_id"), col("w.prio").as("w_prio"),
          col("w.doc_id").as("w_doc"), col("w.source").as("winner_source"))
      // cluster-keyed join (NOT broadcast: the winner frame is
      // cluster-sized, i.e. corpus-scale at 100 TB; both sides arrive
      // already hashed on canonical_id from the groupBy/labels)
      lab.join(win, "canonical_id")
        .filter(col("doc_id") =!= col("w_doc"))
        .groupBy(col("winner_source"), col("source").as("loser_source"))
        .agg(count(lit(1)).as("n_killed"),
          sum("n_chars").cast("long").as("chars_killed"))
        .orderBy("winner_source", "loser_source")
    },
      // the CC closure (same recursive CTE as dedup_cc_canonical) resolved
      // by SOURCE PRIORITY (numeric source rank, ties to lower doc_id);
      // output is the kill matrix
      Some(s"""WITH RECURSIVE
            h AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
            s AS (SELECT doc_id, $duckSimhash AS simhash FROM h),
            b AS (SELECT doc_id, simhash, 0 AS band,
                         simhash & 65535 AS key FROM s
                  UNION ALL
                  SELECT doc_id, simhash, 1,
                         (simhash >> 16) & 65535 FROM s),
            cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                            x.simhash AS sh_a, y.simhash AS sh_b
                     FROM b x JOIN b y
                       ON x.band = y.band AND x.key = y.key
                          AND x.doc_id < y.doc_id),
            pairs AS (SELECT doc_a, doc_b FROM cand
                      WHERE bit_count(xor(sh_a, sh_b)) <= 1),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION
                      SELECT doc_b, doc_a FROM pairs),
            reach(n, m) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
            cl AS (SELECT n AS doc_id, CAST(min(m) AS BIGINT)
                     AS canonical_id
                   FROM reach GROUP BY 1),
            j AS (SELECT cl.canonical_id, cl.doc_id, d.source, d.n_chars,
                         CAST(substr(d.source, 4) AS BIGINT) AS prio
                  FROM cl JOIN documents d ON d.doc_id = cl.doc_id),
            w AS (SELECT canonical_id, doc_id AS w_doc, source
                    AS winner_source,
                    row_number() OVER (PARTITION BY canonical_id
                      ORDER BY prio, doc_id) AS rn
                  FROM j)
         SELECT w.winner_source, j.source AS loser_source,
                count(*) AS n_killed,
                CAST(sum(j.n_chars) AS BIGINT) AS chars_killed
         FROM j JOIN w ON w.canonical_id = j.canonical_id AND w.rn = 1
         WHERE j.doc_id <> w.w_doc
         GROUP BY 1, 2 ORDER BY 1, 2""")),
  )
}

package graft.queries

import graft.{Num, QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text and similarity. The training-data text pipeline over
  * `documents`: dedup (exact, MinHash+LSH, SimHash, exact Jaccard), token
  * statistics, quality scoring, fingerprinting, language ID, string
  * hashes, multi-search and tsquery search, replace/split, and string
  * distances (reference src/Functions/FunctionsStringSimilarity.cpp).
  * Vector similarity over `embeddings` (`array<float>`, unit norm):
  * brute-force cosine top-k is the exact baseline; IVF and
  * hyperplane-LSH are the 100 TB scale paths, where candidates only
  * materialize within buckets, turning the n² pair space into
  * bucket-local joins.
  *
  * Oracle-checked wherever the semantics are expressible in ANSI SQL;
  * signature-based ops (xxhash-seeded) are rows-only or golden-vector
  * entries.
  */
object TextSimilarity {

  import Num._

  private val stops = Seq("the", "a", "of", "and", "to")

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "dedup_exact_stats",
      (s, dir) =>
        Tables(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs"),
               countDistinct(md5(col("text"))).as("n_unique_texts"),
               countDistinct(col("text")).as("n_unique_raw")),
      Some("""
        SELECT COUNT(*) AS n_docs,
          COUNT(DISTINCT MD5(text)) AS n_unique_texts,
          COUNT(DISTINCT text) AS n_unique_raw
        FROM documents""")),

    QueryDef(
      "dedup_keep_first",
      (s, dir) =>
        Dedup.exactKeepFirst(Tables(s, dir, "documents"), "text", "doc_id")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept_ids"))
          .orderBy(col("lang")),
      Some("""
        WITH kept AS (
          SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY MD5(text))
        SELECT lang, COUNT(*) AS n_kept,
          CAST(SUM(d.doc_id) AS BIGINT) AS sum_kept_ids
        FROM documents d JOIN kept USING (doc_id)
        GROUP BY lang
        ORDER BY lang""")),

    QueryDef(
      "text_token_stats",
      (s, dir) =>
        Tables(s, dir, "documents")
          .withColumn("n_tokens", tokenCount(col("text")))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
               (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
               max(col("n_tokens")).as("max_tokens"),
               min(col("n_tokens")).as("min_tokens"))
          .orderBy(col("lang")),
      Some("""
        WITH t AS (SELECT lang, LEN(STRING_SPLIT(text, ' ')) AS n_tokens FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
          CAST(MAX(n_tokens) AS INTEGER) AS max_tokens,
          CAST(MIN(n_tokens) AS INTEGER) AS min_tokens
        FROM t
        GROUP BY lang
        ORDER BY lang""")),

    // BPE-ish pre-tokenization counts vs whitespace counts (the training-
    // data token-budget estimate).
    QueryDef(
      "text_bpe_token_stats",
      (s, dir) =>
        Tables(s, dir, "documents")
          .withColumn("n_ws", tokenCount(col("text")))
          .withColumn("n_bpe", bpeishTokenCount(col("text")))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_ws")).as("ws_tokens"),
               sum(col("n_bpe")).as("bpe_tokens"),
               (sum(col("n_bpe")).cast("double") / sum(col("n_ws"))).as("bpe_per_ws"))
          .orderBy(col("lang")),
      Some("""
        WITH t AS (
          SELECT lang, LEN(STRING_SPLIT(text, ' ')) AS n_ws,
            LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe
          FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
          CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
          CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws) AS bpe_per_ws
        FROM t
        GROUP BY lang
        ORDER BY lang""")),

    QueryDef(
      "text_quality_scores",
      (s, dir) =>
        Tables(s, dir, "documents")
          .withColumn("stop_ratio", stopwordRatio(col("text"), stops))
          .withColumn("chars_per_token",
            col("n_chars").cast("double") / tokenCount(col("text")).cast("double"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
               davg6(col("stop_ratio")).as("avg_stop_ratio"),
               davg6(col("chars_per_token")).as("avg_chars_per_token"))
          .orderBy(col("source")),
      Some("""
        WITH t AS (
          SELECT source, n_chars,
            CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
              x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
              / LEN(STRING_SPLIT(text, ' ')) AS stop_ratio,
            CAST(n_chars AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')) AS chars_per_token
          FROM documents)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CAST(stop_ratio AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_stop_ratio,
          CAST(SUM(CAST(chars_per_token AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_chars_per_token
        FROM t
        GROUP BY source
        ORDER BY source""")),

    QueryDef(
      "text_fingerprints",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"), fingerprint(col("text")).as("fp"))
          .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id, SUBSTRING(MD5(LOWER(TRIM(text))), 1, 16) AS fp
        FROM documents
        ORDER BY doc_id""")),

    QueryDef(
      "text_search_like",
      (s, dir) =>
        Tables(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(count(when(col("text").like("%spark%"), 1)).as("n_spark"),
               count(when(col("text").rlike("join.*filter|filter.*join"), 1)).as("n_join_filter"),
               count(lit(1)).as("n_docs"))
          .orderBy(col("lang")),
      Some("""
        SELECT lang,
          COUNT(CASE WHEN text LIKE '%spark%' THEN 1 END) AS n_spark,
          COUNT(CASE WHEN REGEXP_MATCHES(text, 'join.*filter|filter.*join') THEN 1 END) AS n_join_filter,
          COUNT(*) AS n_docs
        FROM documents
        GROUP BY lang
        ORDER BY lang""")),

    // Exact token-set Jaccard pairs — the oracle-checkable dedup baseline.
    // Blocked to a deterministic sample (doc_id ≡ 0 mod 5): exact all-pairs
    // Jaccard is the MinHash oracle, not the scale path, so the query keeps
    // the pair space bounded at any scale factor (standard dedup blocking).
    QueryDef(
      "jaccard_token_pairs",
      (s, dir) =>
        Dedup.jaccardPairs(
            Tables(s, dir, "documents").filter(col("doc_id") % 5 === 0),
            "text", "doc_id", 0.62)
          .orderBy(col("id_a"), col("id_b")),
      Some("""
        WITH toks AS (
          SELECT doc_id AS id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok
          FROM documents WHERE doc_id % 5 = 0),
        sizes AS (SELECT id, COUNT(*) AS n_tok FROM toks GROUP BY id),
        inter AS (
          SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
          FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
          GROUP BY a.id, b.id)
        SELECT id_a, id_b,
          ROUND(CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter), 6) AS jaccard
        FROM inter
          JOIN sizes sa ON sa.id = id_a
          JOIN sizes sb ON sb.id = id_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter) >= 0.62
        ORDER BY id_a, id_b""")),

    // Near-dup clustering: connected components over the exact-jaccard
    // pair graph (the transitive-closure step between pair generation
    // and row dropping). Oracle = DuckDB recursive CTE label
    // propagation over the same pairs.
    QueryDef(
      "dedup_connected_components",
      (s, dir) => {
        val pairs = Dedup.jaccardPairs(
          Tables(s, dir, "documents").filter(col("doc_id") % 5 === 0),
          "text", "doc_id", 0.62)
        Dedup.connectedComponents(pairs)
          .select(col("id").as("doc_id"), col("label").as("canonical"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH RECURSIVE toks AS (
          SELECT doc_id AS id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok
          FROM documents WHERE doc_id % 5 = 0),
        sizes AS (SELECT id, COUNT(*) AS n_tok FROM toks GROUP BY id),
        inter AS (
          SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
          FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
          GROUP BY a.id, b.id),
        pairs AS (
          SELECT id_a, id_b
          FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
          WHERE CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter) >= 0.62),
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT a AS id FROM edges),
        cc AS (
          SELECT id AS node, id AS label FROM nodes
          UNION
          SELECT e.b AS node, cc.label FROM cc JOIN edges e ON cc.node = e.a)
        SELECT node AS doc_id, MIN(label) AS canonical
        FROM cc GROUP BY node ORDER BY doc_id""")),

    // MinHash+LSH near-dup candidates (seeded-xxhash signatures — not
    // SQL-expressible; golden-vector pinned counts below).
    QueryDef(
      "minhash_lsh_candidates",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Dedup.minhashCandidates(docs, "text", "doc_id")
          .agg(count(lit(1)).as("n_candidate_pairs"),
               countDistinct(col("id_a")).as("n_docs_with_candidates"))
      },
      // GOLDEN VECTOR oracle: the seeded-xxhash signature has no SQL
      // counterpart, so the pair/doc counts are pinned from the seed-42
      // sf0.01 run. Candidate QUALITY is independently gated by
      // OperatorsSpec's "minhash LSH recall vs exact shingle-Jaccard"
      // test (the SQL-checkable jaccard_token_pairs query covers the
      // exact side);
      // this pin freezes the integration output so any signature or
      // banding regression hash-fails. sf0.01 ONLY.
      Some("""
        SELECT CAST(n_candidate_pairs AS BIGINT) AS n_candidate_pairs,
               CAST(n_docs_with_candidates AS BIGINT) AS n_docs_with_candidates
        FROM (VALUES (25, 24)) AS t(n_candidate_pairs, n_docs_with_candidates)""")),

    // SimHash band-collision candidates (golden-vector pinned counts).
    QueryDef(
      "simhash_candidates",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Dedup.simhashCandidates(docs, "text", "doc_id")
          .agg(count(lit(1)).as("n_candidate_pairs"),
               countDistinct(col("id_a")).as("n_docs_with_candidates"))
      },
      // GOLDEN VECTOR oracle: pinned from the seed-42 sf0.01 run (the
      // 64-bit shingle-hash SimHash has no SQL counterpart); that
      // near-identical token sets collide is gated by OperatorsSpec's
      // "simhash candidates collide" test. Freezes the integration
      // output against regression. sf0.01 ONLY.
      Some("""
        SELECT CAST(n_candidate_pairs AS BIGINT) AS n_candidate_pairs,
               CAST(n_docs_with_candidates AS BIGINT) AS n_docs_with_candidates
        FROM (VALUES (2343, 391)) AS t(n_candidate_pairs, n_docs_with_candidates)""")),

    // Heuristic language ID vs the labeled lang column. The stopword
    // argmax is plain SQL, so the oracle replays it: per-language
    // stopword-occurrence counts, highest score wins, ties to the
    // alphabetically-last language (Spark's greatest() over
    // (score, lang) structs), zero hits → 'und'.
    QueryDef(
      "langid_confusion",
      (s, dir) => {
        val profiles = Map(
          "en" -> Seq("the", "and", "of", "to", "a"),
          "de" -> Seq("der", "die", "das", "und", "ist"),
          "fr" -> Seq("le", "la", "et", "les", "des"),
          "es" -> Seq("el", "la", "de", "y", "que"),
          "zh" -> Seq("的", "是", "了", "在", "我"))
        Tables(s, dir, "documents")
          .withColumn("predicted", langId(col("text"), profiles))
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("predicted"))
      },
      Some("""
        WITH s AS (SELECT lang,
            len(list_filter(str_split(text, ' '),
              t -> t IN ('the', 'and', 'of', 'to', 'a'))) AS s_en,
            len(list_filter(str_split(text, ' '),
              t -> t IN ('der', 'die', 'das', 'und', 'ist'))) AS s_de,
            len(list_filter(str_split(text, ' '),
              t -> t IN ('le', 'la', 'et', 'les', 'des'))) AS s_fr,
            len(list_filter(str_split(text, ' '),
              t -> t IN ('el', 'la', 'de', 'y', 'que'))) AS s_es,
            len(list_filter(str_split(text, ' '),
              t -> t IN ('的', '是', '了', '在', '我'))) AS s_zh
          FROM documents),
        p AS (SELECT lang,
            CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                 WHEN s_zh = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                 WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                 WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                 WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                 ELSE 'de' END AS predicted
          FROM s)
        SELECT lang, predicted, COUNT(*) AS n
        FROM p
        GROUP BY lang, predicted
        ORDER BY lang, predicted""")),

    // Brute-force cosine top-5 for a fixed probe set. The probe side is
    // tiny → broadcast; the scan side streams once (no shuffle of the
    // corpus).
    QueryDef(
      "knn_bruteforce_cosine",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
        val w = Window.partitionBy(col("probe_id"))
          .orderBy(col("sim").desc, col("vec_id"))
        emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("sim", round(dot(col("embedding"), col("probe_vec")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"), col("sim"))
          .orderBy(col("probe_id"), col("rn"))
      },
      Some("""
        WITH probes AS (
          SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS probe_vec
          FROM embeddings WHERE vec_id < 10),
        sims AS (
          SELECT probe_id, e.vec_id AS neighbor_id,
            ROUND(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), probe_vec), 6) AS sim
          FROM embeddings e CROSS JOIN probes
          WHERE e.vec_id <> probe_id),
        ranked AS (
          SELECT probe_id, neighbor_id, sim,
            ROW_NUMBER() OVER (PARTITION BY probe_id
              ORDER BY sim DESC, neighbor_id) AS rn
          FROM sims)
        SELECT probe_id, rn, neighbor_id, sim
        FROM ranked WHERE rn <= 5
        ORDER BY probe_id, rn""")),

    // Vector norm statistics per label (sanity + aggregate over dot).
    QueryDef(
      "embedding_norm_stats",
      (s, dir) =>
        Tables(s, dir, "embeddings")
          .withColumn("nrm", round(norm(col("embedding")), 6))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vectors"),
               davg6(col("nrm")).as("avg_norm"),
               min(col("nrm")).as("min_norm"),
               max(col("nrm")).as("max_norm"))
          .orderBy(col("label")),
      Some("""
        WITH t AS (
          SELECT label,
            ROUND(SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))), 6) AS nrm
          FROM embeddings)
        SELECT label, COUNT(*) AS n_vectors,
          CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_norm,
          MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
        FROM t
        GROUP BY label
        ORDER BY label""")),

    // Embedding-cosine near-dup pairs (the fifth dedup modality of the
    // build brief): exact all-pairs threshold baseline — unit-norm
    // embeddings, so cosine ≡ dot. The scale path for the same semantics
    // is the LSH-bucketed candidate join (knn_lsh_topk /
    // minhash_lsh_candidates); this exact form is the oracle-checkable
    // ground truth it is measured against.
    QueryDef(
      "dedup_cosine_pairs",
      (s, dir) => {
        val emb = graft.operators.AllPairs.guarded(Tables(s, dir, "embeddings"))
        val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
        a.join(broadcast(b), col("id_a") < col("id_b"))
          .withColumn("sim", round(dot(col("va"), col("vb")), 6))
          .filter(col("sim") >= 0.45)
          .select(col("id_a"), col("id_b"), col("sim"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ROUND(LIST_DOT_PRODUCT(a.v, b.v), 6) AS sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE ROUND(LIST_DOT_PRODUCT(a.v, b.v), 6) >= 0.45
        ORDER BY id_a, id_b""")),

    // Label-pair mean similarity over a deterministic sample of pairs
    // (id_a < id_b, both ≡ 0 mod 5 — keeps the pair space bounded).
    QueryDef(
      "label_pair_similarity",
      (s, dir) => {
        val emb = graft.operators.AllPairs.guarded(
          Tables(s, dir, "embeddings").filter(col("vec_id") % 5 === 0))
        val a = emb.select(col("vec_id").as("id_a"), col("label").as("label_a"),
                           col("embedding").as("vec_a"))
        val b = emb.select(col("vec_id").as("id_b"), col("label").as("label_b"),
                           col("embedding").as("vec_b"))
        a.join(b, col("id_a") < col("id_b"))
          .withColumn("sim", round(dot(col("vec_a"), col("vec_b")), 6))
          .groupBy(col("label_a"), col("label_b"))
          .agg(count(lit(1)).as("n_pairs"), davg6(col("sim")).as("avg_sim"))
          .orderBy(col("label_a"), col("label_b"))
      },
      Some("""
        WITH sub AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings WHERE vec_id % 5 = 0)
        SELECT a.label AS label_a, b.label AS label_b, COUNT(*) AS n_pairs,
          CAST(SUM(CAST(ROUND(LIST_DOT_PRODUCT(a.v, b.v), 6) AS DECIMAL(18,6)))
            AS DOUBLE) / COUNT(*) AS avg_sim
        FROM sub a JOIN sub b ON a.vec_id < b.vec_id
        GROUP BY 1, 2
        ORDER BY label_a, label_b""")),

    // IVF-style ANN: coarse-quantize every vector to its nearest of 16
    // deterministic centroids (the embeddings of vec_id 0..15), then
    // search only within the probe's cell. Oracle-checkable end to end —
    // assignment and rerank are exact dot products. At scale the cell
    // assignment is one broadcast pass and search cost drops by the cell
    // fanout.
    QueryDef(
      "knn_ivf_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val cents = emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))
        // r15 (guide §2.4 "remove shuffles outright"): the old assignment
        // cross-joined 16 broadcast centroid ROWS and re-grouped by
        // (vec_id, embedding) to pick the max — a corpus-sized Exchange
        // (embeddings included) whose groups were already complete on the
        // map side. Folding the 16 centroids into ONE broadcast array row
        // turns the argmax into a per-row array_max over
        // struct(cdot, -cent_id, cent_id) — same (dot, lowest-id-wins)
        // selection, zero shuffles: at 100 TB the assignment is a pure
        // map over the scan.
        val centsArr = cents
          .agg(collect_list(struct(col("cent_id"), col("cent_vec"))).as("cs"))
        def assignCells(in: org.apache.spark.sql.DataFrame) =
          in.crossJoin(broadcast(centsArr))
            .withColumn("cell",
              array_max(transform(col("cs"), c =>
                struct(round(dot(col("embedding"), c.getField("cent_vec")), 6).as("d"),
                       (-c.getField("cent_id")).as("negid"),
                       c.getField("cent_id").as("id")))).getField("id"))
            .drop("cs")
        // The corpus assignment streams once through the join below; the
        // tiny probe set re-derives its cells independently (10 × 16
        // rows), so nothing needs to persist/materialize.
        val assigned = assignCells(emb)
        val probes = assignCells(emb.filter(col("vec_id") < 10))
          .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
                  col("cell").as("probe_cell"))
        val w = Window.partitionBy(col("probe_id"))
          .orderBy(col("sim").desc, col("vec_id"))
        assigned.join(broadcast(probes), col("cell") === col("probe_cell"))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("sim", round(dot(col("embedding"), col("probe_vec")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"), col("sim"))
          .orderBy(col("probe_id"), col("rn"))
      },
      Some("""
        WITH cents AS (
          SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cent_vec
          FROM embeddings WHERE vec_id < 16),
        assigned AS (
          SELECT vec_id, cell, v AS embedding FROM (
            SELECT e.vec_id, cent_id AS cell, CAST(e.embedding AS DOUBLE[]) AS v,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id
                ORDER BY ROUND(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), cent_vec), 6) DESC,
                         cent_id ASC) AS rnc
            FROM embeddings e CROSS JOIN cents) t
          WHERE rnc = 1),
        probes AS (
          SELECT vec_id AS probe_id, embedding AS probe_vec, cell AS probe_cell
          FROM assigned WHERE vec_id < 10),
        sims AS (
          SELECT probe_id, a.vec_id AS neighbor_id,
            ROUND(LIST_DOT_PRODUCT(a.embedding, probe_vec), 6) AS sim
          FROM assigned a JOIN probes p ON a.cell = p.probe_cell
          WHERE a.vec_id <> p.probe_id)
        SELECT probe_id, rn, neighbor_id, sim FROM (
          SELECT probe_id, neighbor_id, sim,
            ROW_NUMBER() OVER (PARTITION BY probe_id
              ORDER BY sim DESC, neighbor_id) AS rn
          FROM sims) r
        WHERE rn <= 3
        ORDER BY probe_id, rn""")),

    // IVF with k-means-trained centroids: two Lloyd iterations refine the
    // seed cells (first 16 vectors), then cell-local exact rerank as in
    // knn_ivf_topk. Centroid means are per-dimension averages quantized to
    // 4 decimals so assignments are reproducible. Each iteration is one
    // broadcast assignment pass + one (cell, dim) aggregation — no
    // all-pairs stage anywhere, so training cost is O(n × k × iters) and
    // scales out with the data. Rows-only (iterative float means have no
    // SQL oracle).
    QueryDef(
      "knn_ivf_kmeans_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        // r15: same shuffle-free argmax-as-expression as knn_ivf_topk —
        // each Lloyd iteration's assignment pass loses its corpus-sized
        // Exchange. dotHof: centroids are array<double> after training,
        // so the float-only native expression doesn't apply here.
        def assign(cents: org.apache.spark.sql.DataFrame) = {
          val centsArr = cents
            .agg(collect_list(struct(col("cent_id"), col("cent_vec"))).as("cs"))
          emb.crossJoin(broadcast(centsArr))
            .withColumn("cell",
              array_max(transform(col("cs"), c =>
                struct(round(dotHof(col("embedding"), c.getField("cent_vec")), 6).as("d"),
                       (-c.getField("cent_id")).as("negid"),
                       c.getField("cent_id").as("id")))).getField("id"))
            .drop("cs")
        }
        var cents = emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cent_id"), asDouble(col("embedding")).as("cent_vec"))
        (1 to 2).foreach { _ =>
          // New centroid = per-dimension mean over the cell's members.
          cents = assign(cents)
            .select(col("cell"), posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
            .groupBy(col("cell"), col("dim"))
            .agg(round(avg(col("x")), 4).as("m"))
            .groupBy(col("cell"))
            .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("dm"))
            .select(col("cell").as("cent_id"), expr("transform(dm, p -> p.m)").as("cent_vec"))
        }
        // r16 (guide §5): the corpus-sized MEMORY_AND_DISK persist of the
        // full assignment is gone — the probe branch needs only the 10
        // probe rows' cells, which it re-derives from the SAME trained-
        // centroid broadcast (one shared centsArr frame → identical
        // subtree → ReuseExchange builds the ≤16-row broadcast once, so
        // Lloyd training still runs once), with vec_id < 10 pushed to
        // the probe scan. Mirrors knn_ivf_topk's r15 shape.
        val centsArr = cents
          .agg(collect_list(struct(col("cent_id"), col("cent_vec"))).as("cs"))
        def assignArr(in: org.apache.spark.sql.DataFrame) =
          in.crossJoin(broadcast(centsArr))
            .withColumn("cell",
              array_max(transform(col("cs"), c =>
                struct(round(dotHof(col("embedding"), c.getField("cent_vec")), 6).as("d"),
                       (-c.getField("cent_id")).as("negid"),
                       c.getField("cent_id").as("id")))).getField("id"))
            .drop("cs")
        val assigned = assignArr(emb)
        val probes = assignArr(emb.filter(col("vec_id") < 10))
          .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
                  col("cell").as("probe_cell"))
        val w = Window.partitionBy(col("probe_id"))
          .orderBy(col("sim").desc, col("vec_id"))
        assigned.join(broadcast(probes), col("cell") === col("probe_cell"))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("sim", round(dot(col("embedding"), col("probe_vec")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"), col("sim"))
          .orderBy(col("probe_id"), col("rn"))
      },
      // SELECTION-PINNED oracle: only the ANN neighbor choice (probe, rn,
      // neighbor) is a frozen seed-42 vector — the k-means training and
      // seeded assignments have no SQL counterpart — but the sim VALUES
      // are recomputed by DuckDB from the parquet embeddings, so the dot
      // products are genuinely oracle-checked, not self-pinned. The
      // selection quality itself is gated by AnnRecallSpec vs exact
      // brute force. sf0.01 ONLY.
      Some("""
        WITH sel(probe_id, rn, neighbor_id) AS (VALUES
          (0,1,365), (0,2,387), (0,3,423), (1,1,27), (1,2,407),
          (1,3,195), (2,1,117), (2,2,450), (2,3,188), (3,1,130),
          (3,2,149), (3,3,343), (4,1,114), (4,2,496), (4,3,482),
          (5,1,404), (5,2,419), (5,3,157), (6,1,350), (6,2,430),
          (6,3,145), (7,1,340), (7,2,425), (7,3,209), (8,1,39),
          (8,2,138), (8,3,403), (9,1,49), (9,2,489), (9,3,414)),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT CAST(s.probe_id AS BIGINT) AS probe_id,
          CAST(s.rn AS INTEGER) AS rn,
          CAST(s.neighbor_id AS BIGINT) AS neighbor_id,
          ROUND(LIST_DOT_PRODUCT(a.v, p.v), 6) AS sim
        FROM sel s
          JOIN e a ON a.vec_id = s.neighbor_id
          JOIN e p ON p.vec_id = s.probe_id
        ORDER BY probe_id, rn""")),

    // Hyperplane-LSH approximate top-k, production shape: L=4 independent
    // 8-bit hash tables sliced from ONE native 32-plane signature pass,
    // plus multi-probe (Hamming ≤ 2) within each table — the standard
    // recall levers (more tables OR nearby buckets) without ever scanning
    // the corpus more than once. A vector can collide with a probe in
    // several tables, so candidates dedup via groupBy before rerank.
    // AnnRecallSpec gates recall vs brute force. Rows-only — seeded-hash
    // hyperplanes aren't SQL-expressible.
    QueryDef(
      "knn_lsh_topk",
      (s, dir) => {
        val nTables = 4
        val bits = 8
        def tableKey(sig: org.apache.spark.sql.Column, t: Int) =
          shiftright(sig, t * bits).bitwiseAND(lit((1L << bits) - 1))
        // r15 (guide §5 caching note): NO persist of the signed corpus —
        // the signature is a cheap deterministic codegen expression, so
        // recomputing it for the 10-row probe branch (parquet scan with
        // vec_id<10 pushed down) is far cheaper than materializing the
        // whole corpus+signatures into executor memory. At 100 TB the old
        // persist was the scale hazard (corpus-sized cache per query);
        // now the corpus streams once through the scan and only the tiny
        // probe side is re-derived.
        val emb = Tables(s, dir, "embeddings")
          .withColumn("sig", hyperplaneLshBucket(col("embedding"), nTables * bits))
        val corpus = emb.select(col("vec_id"), col("embedding"),
          explode(array((0 until nTables).map(t =>
            struct(lit(t).as("tbl"), tableKey(col("sig"), t).as("key"))): _*)).as("tk"))
          .select(col("vec_id"), col("embedding"),
                  col("tk.tbl").as("tbl"), col("tk.key").as("key"))
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
            explode(flatten(array((0 until nTables).map(t =>
              transform(multiProbeBuckets(tableKey(col("sig"), t), bits, 2),
                k => struct(lit(t).as("tbl"), k.as("key")))): _*))).as("tk"))
          .select(col("probe_id"), col("probe_vec"),
                  col("tk.tbl").as("tbl"), col("tk.key").as("key"))
        val w = Window.partitionBy(col("probe_id"))
          .orderBy(col("sim").desc, col("vec_id"))
        corpus.join(broadcast(probes), Seq("tbl", "key"))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("sim", round(dot(col("embedding"), col("probe_vec")), 6))
          .groupBy(col("probe_id"), col("vec_id"))
          .agg(max(col("sim")).as("sim"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("probe_id"), col("rn"), col("vec_id").as("neighbor_id"), col("sim"))
          .orderBy(col("probe_id"), col("rn"))
      },
      // SELECTION-PINNED oracle (see knn_ivf_kmeans_topk): the seed-42
      // LSH table/bucket choice is the only frozen part; sim values are
      // recomputed by DuckDB from the parquet embeddings. Recall vs
      // brute force is gated by AnnRecallSpec. sf0.01 ONLY.
      Some("""
        WITH sel(probe_id, rn, neighbor_id) AS (VALUES
          (0,1,365), (0,2,387), (0,3,73), (0,4,7), (0,5,190),
          (1,1,386), (1,2,407), (1,3,195), (1,4,64), (1,5,402),
          (2,1,117), (2,2,145), (2,3,188), (2,4,418), (2,5,471),
          (3,1,130), (3,2,149), (3,3,343), (3,4,207), (3,5,315),
          (4,1,408), (4,2,482), (4,3,280), (4,4,249), (4,5,257),
          (5,1,404), (5,2,419), (5,3,157), (5,4,33), (5,5,359),
          (6,1,350), (6,2,145), (6,3,437), (6,4,386), (6,5,395),
          (7,1,340), (7,2,425), (7,3,209), (7,4,334), (7,5,381),
          (8,1,39), (8,2,138), (8,3,403), (8,4,497), (8,5,380),
          (9,1,49), (9,2,414), (9,3,386), (9,4,107), (9,5,256)),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT CAST(s.probe_id AS BIGINT) AS probe_id,
          CAST(s.rn AS INTEGER) AS rn,
          CAST(s.neighbor_id AS BIGINT) AS neighbor_id,
          ROUND(LIST_DOT_PRODUCT(a.v, p.v), 6) AS sim
        FROM sel s
          JOIN e a ON a.vec_id = s.neighbor_id
          JOIN e p ON p.vec_id = s.probe_id
        ORDER BY probe_id, rn""")),

    // Levenshtein distance over distinct part-name pairs.
    QueryDef(
      "string_levenshtein_pairs",
      (s, dir) => {
        val names = Tables(s, dir, "part").select(col("p_name").as("nm")).distinct()
        names.as("a").join(names.as("b"), col("a.nm") < col("b.nm"))
          .select(col("a.nm").as("name_a"), col("b.nm").as("name_b"),
                  levenshtein(col("a.nm"), col("b.nm")).as("dist"))
          .filter(col("dist") <= 5)
          .orderBy(col("name_a"), col("name_b"))
      },
      Some("""
        WITH names AS (SELECT DISTINCT p_name AS nm FROM part)
        SELECT a.nm AS name_a, b.nm AS name_b, LEVENSHTEIN(a.nm, b.nm) AS dist
        FROM names a JOIN names b ON a.nm < b.nm
        WHERE LEVENSHTEIN(a.nm, b.nm) <= 5
        ORDER BY name_a, name_b""")),

    // Vector distance spellings over the embeddings table (dialect
    // surface of the ANN stack): 25 probe/candidate pairs via an
    // equi-key join, distances in double on both engines (the oracle
    // casts the float32 lists up before list_inner_product /
    // list_distance so both sides do the same double math).
    QueryDef.sql(
      "vector_distance_pairs",
      Seq("embeddings"),
      """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ROUND(dotProduct(a.embedding, b.embedding), 6) AS dot,
          ROUND(L2Distance(a.embedding, b.embedding), 6) AS l2,
          ROUND(cosineDistance(a.embedding, b.embedding), 6) AS cos_d
        FROM (SELECT * FROM embeddings WHERE vec_id < 5) a
        JOIN (SELECT * FROM embeddings WHERE vec_id >= 5 AND vec_id < 30) b
          ON b.vec_id % 5 = a.vec_id
        ORDER BY id_a, id_b""",
      Some("""
        WITH d AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings WHERE vec_id < 30)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ROUND(list_inner_product(a.e, b.e), 6) AS dot,
          ROUND(list_distance(a.e, b.e), 6) AS l2,
          ROUND(1.0 - list_cosine_similarity(a.e, b.e), 6) AS cos_d
        FROM (SELECT * FROM d WHERE vec_id < 5) a
        JOIN (SELECT * FROM d WHERE vec_id >= 5) b ON b.vec_id % 5 = a.vec_id
        ORDER BY id_a, id_b""")),

    // replace family + splitByString (reference replaceRegexpAll.cpp,
    // replaceRegexpOne.cpp, replaceOne.cpp, FunctionsStringArray.h).
    // The backref column exercises CH's \N → Java $N conversion.
    QueryDef.sql(
      "text_replace_split",
      Seq("nation"),
      """
        SELECT n_nationkey AS k,
          replaceRegexpAll(n_name, '[AEIOU]', '.') AS devowel,
          replaceRegexpAll(n_name, '(.)(.)', '\\2\\1') AS swap_pairs,
          replaceRegexpOne(n_name, '[AEIOU]', '#') AS first_vowel,
          replaceAll(n_name, 'A', '@') AS lit_all,
          replaceOne(n_name, 'A', '@') AS lit_one,
          array_join(splitByString('N', n_name), '|') AS split_n
        FROM nation ORDER BY k""",
      Some("""
        SELECT n_nationkey AS k,
          regexp_replace(n_name, '[AEIOU]', '.', 'g') AS devowel,
          regexp_replace(n_name, '(.)(.)', '\2\1', 'g') AS swap_pairs,
          regexp_replace(n_name, '[AEIOU]', '#') AS first_vowel,
          replace(n_name, 'A', '@') AS lit_all,
          CASE WHEN instr(n_name, 'A') = 0 THEN n_name
               ELSE substr(n_name, 1, instr(n_name, 'A') - 1) || '@' ||
                    substr(n_name, instr(n_name, 'A') + 1) END AS lit_one,
          array_to_string(string_split(n_name, 'N'), '|') AS split_n
        FROM nation ORDER BY k""")),

    // multiSearch family over the documents corpus (reference
    // MultiSearchImpl.h): any-needle flag, leftmost match position and
    // the 1-based index of the leftmost-matching needle, aggregated per
    // language. The oracle derives the same three from per-needle instr.
    QueryDef.sql(
      "text_multisearch",
      Seq("documents"),
      """
        SELECT lang,
          CAST(SUM(IF(multiSearchAny(text, array('table', 'spark', 'window')), 1, 0)) AS BIGINT) AS any_hits,
          CAST(SUM(multiSearchFirstPosition(text, array('table', 'spark', 'window'))) AS BIGINT) AS pos_sum,
          CAST(SUM(multiSearchFirstIndex(text, array('table', 'spark', 'window'))) AS BIGINT) AS idx_sum
        FROM documents GROUP BY lang ORDER BY lang""",
      Some("""
        WITH p AS (
          SELECT lang,
            instr(text, 'table') AS p1, instr(text, 'spark') AS p2,
            instr(text, 'window') AS p3
          FROM documents),
        m AS (
          SELECT lang, p1, p2, p3,
            COALESCE(LEAST(NULLIF(p1, 0), NULLIF(p2, 0), NULLIF(p3, 0)), 0) AS pos
          FROM p)
        SELECT lang,
          CAST(SUM(CASE WHEN pos > 0 THEN 1 ELSE 0 END) AS BIGINT) AS any_hits,
          CAST(SUM(pos) AS BIGINT) AS pos_sum,
          CAST(SUM(CASE WHEN pos = 0 THEN 0 WHEN p1 = pos THEN 1
                        WHEN p2 = pos THEN 2 ELSE 3 END) AS BIGINT) AS idx_sum
        FROM m GROUP BY lang ORDER BY lang""")),

    // ngram/wordShingle SimHash + MinHash fingerprints over documents —
    // rows-only (the hash values are implementation-defined; DuckDB has
    // no counterpart). The aggregate shape is the production near-dup
    // one: fingerprint in-scan, group by fingerprint, count collisions.
    // Value-level behavior is gated in Wave11ScalarSpec.
    QueryDef.sql(
      "text_string_hashes",
      Seq("documents"),
      """
        WITH f AS (SELECT lang,
            ngramSimHash(text) AS sh,
            ngramMinHash(text).h1 AS mh1,
            wordShingleSimHash(text) AS wsh
          FROM documents)
        SELECT lang,
          COUNT(*) AS docs,
          COUNT(DISTINCT sh) AS distinct_simhash,
          COUNT(DISTINCT mh1) AS distinct_minhash,
          COUNT(DISTINCT wsh) AS distinct_word_simhash
        FROM f GROUP BY lang ORDER BY lang""",
      // GOLDEN VECTOR oracle (no portable SQL counterpart exists):
      // literal VALUES pinned from the engine's sf0.01 output. Honest
      // provenance: the reference corpus ships NO golden outputs for
      // ngramSimHash/ngramMinHash/wordShingleSimHash, so this pin
      // freezes THIS engine's documented semantics (scaladoc cites the
      // reference's FunctionsStringHash.cpp definition) against
      // regression; algorithm-level invariants (determinism, case
      // variants, Hamming proximity of near-identical strings) are
      // spec-gated in Wave11ScalarSpec. sf0.01 ONLY.
      Some("""
        SELECT lang, CAST(docs AS BIGINT) AS docs, CAST(distinct_simhash AS BIGINT) AS distinct_simhash, CAST(distinct_minhash AS BIGINT) AS distinct_minhash, CAST(distinct_word_simhash AS BIGINT) AS distinct_word_simhash FROM (VALUES
          ('de', 70, 68, 44, 68),
          ('en', 218, 210, 114, 214),
          ('es', 73, 73, 43, 73),
          ('fr', 64, 64, 29, 64),
          ('zh', 75, 75, 40, 75)) AS t(lang, docs, distinct_simhash, distinct_minhash, distinct_word_simhash) ORDER BY 1""")),

    // detect* NLP spellings over documents — the heuristic substitutes
    // (stopword vote + CJK codepoint share, byte-structure charset,
    // lexicon tonality; see SimilarityOps scaladoc) are simple enough
    // that the ORACLE REBUILDS THEM EXACTLY in SQL, so this is a full
    // hash gate, not rows-only: per true lang, the predicted-language
    // confusion counts, ascii-vs-utf8 charset split, and the mean
    // tonality.
    QueryDef.sql(
      "detect_nlp_confusion",
      Seq("documents"),
      """
        SELECT lang, detectLanguage(text) AS predicted, COUNT(*) AS docs,
          CAST(SUM(CASE WHEN detectCharset(text) = 'US-ASCII' THEN 1 ELSE 0 END) AS BIGINT) AS ascii_docs,
          CAST(SUM(CAST(FLOOR(CAST(detectTonality(text) AS DOUBLE) * 100000) AS BIGINT)) AS BIGINT) AS tonality_u
        FROM documents
        GROUP BY lang, predicted
        ORDER BY lang, predicted""",
      Some("""
        WITH t AS (
          SELECT doc_id, lang, text,
            length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS cjk,
            length(text) AS cplen,
            CASE WHEN octet_length(encode(text)) = length(text)
                 THEN 1 ELSE 0 END AS is_ascii
          FROM documents),
        tok AS (
          SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^\p{L}]+')) AS tk
          FROM documents),
        sc AS (
          SELECT doc_id,
            SUM(CASE WHEN tk IN ('der','die','das','und','ist') THEN 1 ELSE 0 END) AS de,
            SUM(CASE WHEN tk IN ('the','and','of','to','a') THEN 1 ELSE 0 END) AS en,
            SUM(CASE WHEN tk IN ('el','la','de','y','que') THEN 1 ELSE 0 END) AS es,
            SUM(CASE WHEN tk IN ('le','la','et','les','des') THEN 1 ELSE 0 END) AS fr,
            SUM(CASE WHEN tk IN ('good','great','excellent','love','best','happy',
                                 'wonderful','amazing','fantastic','perfect') THEN 1 ELSE 0 END) AS pos,
            SUM(CASE WHEN tk IN ('bad','terrible','awful','hate','worst','sad',
                                 'horrible','poor','disappointing','broken') THEN 1 ELSE 0 END) AS neg,
            SUM(CASE WHEN tk <> '' THEN 1 ELSE 0 END) AS ntok
          FROM tok GROUP BY doc_id),
        pred AS (
          SELECT t.lang,
            CASE WHEN t.cjk > 0 AND t.cjk * 4 >= t.cplen THEN 'zh'
                 WHEN GREATEST(sc.de, sc.en, sc.es, sc.fr) = 0 THEN 'un'
                 WHEN sc.fr >= GREATEST(sc.de, sc.en, sc.es) THEN 'fr'
                 WHEN sc.es >= GREATEST(sc.de, sc.en) THEN 'es'
                 WHEN sc.en >= sc.de THEN 'en'
                 ELSE 'de' END AS predicted,
            t.is_ascii,
            CASE WHEN sc.ntok = 0 THEN 0
                 ELSE CAST(FLOOR(CAST(CAST(sc.pos - sc.neg AS FLOAT) / sc.ntok AS DOUBLE)
                      * 100000) AS BIGINT) END AS ton_u
          FROM t JOIN sc ON sc.doc_id = t.doc_id)
        SELECT lang, predicted, COUNT(*) AS docs,
          CAST(SUM(is_ascii) AS BIGINT) AS ascii_docs,
          CAST(SUM(ton_u) AS BIGINT) AS tonality_u
        FROM pred
        GROUP BY lang, predicted
        ORDER BY lang, predicted""")),

    // textSearch tsquery evaluation (reference tsquery.cpp +
    // Common/TextSearchQuery.cpp) over documents: AND/OR/NOT trees and
    // a multi-token phrase, each rebuilt in DuckDB with the same
    // token-boundary regexes the lowering emits.
    QueryDef.sql(
      "text_search_tsquery",
      Seq("documents"),
      """
        SELECT doc_id,
          CAST(textSearch(text, 'data & (model | training)') AS INT) AS hit_and_or,
          CAST(textSearch(text, '!data & learning') AS INT) AS hit_not,
          CAST(hasTokens(text, 'of the') AS INT) AS phrase
        FROM documents
        ORDER BY doc_id""",
      Some("""
        SELECT doc_id,
          CAST(CASE WHEN regexp_matches(text, '(^|[^0-9A-Za-z_])data([^0-9A-Za-z_]|$)')
            AND (regexp_matches(text, '(^|[^0-9A-Za-z_])model([^0-9A-Za-z_]|$)')
              OR regexp_matches(text, '(^|[^0-9A-Za-z_])training([^0-9A-Za-z_]|$)'))
            THEN 1 ELSE 0 END AS INT) AS hit_and_or,
          CAST(CASE WHEN NOT regexp_matches(text, '(^|[^0-9A-Za-z_])data([^0-9A-Za-z_]|$)')
            AND regexp_matches(text, '(^|[^0-9A-Za-z_])learning([^0-9A-Za-z_]|$)')
            THEN 1 ELSE 0 END AS INT) AS hit_not,
          CAST(CASE WHEN regexp_matches(text, '(^|[^0-9A-Za-z_])of the([^0-9A-Za-z_]|$)')
            THEN 1 ELSE 0 END AS INT) AS phrase
        FROM documents
        ORDER BY doc_id""")))
}

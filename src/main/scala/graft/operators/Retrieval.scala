package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pins
import graft.Tables.{t => tbl}

/** Full-text retrieval primitives over the `documents` corpus: a sharded
  * inverted index and BM25 ranking. Together with the ANN family
  * (Similarity.scala) this closes the hybrid-search surface a training-data
  * pipeline queries: lexical recall (postings/BM25) + semantic recall
  * (IVF/PQ/LSH), the two legs of every modern retrieval stack. The
  * reference's own query surface is key/filter-based (`src/app/events/
  * actions.ts:30-60`); these extend it the same way the dedup family does —
  * corpus-scale operators the reference's store cannot express.
  *
  * Scale design: a posting list for a frequent term is O(corpus) — the one
  * thing you must never `collect_list` unsharded at 100 TB. The index is
  * therefore keyed `(term, shard)` with `shard = doc_id div S`: list length
  * is bounded by the shard's doc count regardless of term frequency, shards
  * of one term write/read independently (the Lucene segment idea expressed
  * relationally), and the build is ONE shuffle with map-side combine over
  * `(term, shard)`. BM25 touches only the query terms' postings — the tf
  * table after the `isin` pushdown is O(q · docs-with-term), never the
  * corpus; df and the corpus stats (N, avgdl) are O(vocab)/O(1) broadcast
  * tables, exactly the tfidf discipline.
  */
object Retrieval {

  type Q = (SparkSession, String) => DataFrame

  /** (doc_id, tok) token stream; single-space split matches DuckDB's
    * string_split (tx_tokens precedent).
    */
  private def toks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    tbl(s, d, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .where(length($"tok") > 0)
  }

  // -------------------------------------------------------- inverted index

  /** ix_postings — sharded inverted index build: for every (term, shard)
    * the per-shard document frequency and the sorted posting list (comma
    * string — the suite's array-emission convention). Docs-not-occurrences:
    * the (doc_id, tok) stream is de-duplicated before grouping, so `tf`
    * inflation from repeated tokens never reaches the index.
    *
    * Plan: explode → distinct (one shuffle, map-side combine) → groupBy
    * (tok, shard) (second shuffle on the index key itself). Posting order
    * is numeric doc_id in BOTH engines (sort_array on the bigint array
    * here, ORDER BY doc_id in the aggregate there) — never lexicographic
    * on the stringified id.
    */
  val ixPostings: Q = (s, d) => {
    import s.implicits._
    toks(s, d).distinct()
      .withColumn("shard", expr("doc_id div 100"))
      .groupBy($"tok", $"shard")
      .agg(count(lit(1)).as("df_shard"),
        expr("array_join(transform(sort_array(collect_set(doc_id))," +
          " x -> CAST(x AS STRING)), ',')").as("postings"))
      .orderBy($"tok", $"shard")
  }
  val ixPostingsSql: String =
    """WITH dt AS (
      |  SELECT DISTINCT doc_id, tok
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE len(tok) > 0)
      |SELECT tok, doc_id // 100 AS shard, count(*) AS df_shard,
      |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
      |FROM dt GROUP BY tok, shard ORDER BY tok, shard""".stripMargin

  // ------------------------------------------------------------------ BM25

  /** ix_bm25 — Okapi BM25 (k1=1.2, b=0.75, Lucene's ln(1 + (N-df+.5)/(df+.5))
    * idf) for a fixed 3-term query, top-20 docs. The corpus text is scanned
    * once (token stream feeds dl and tf); df / N / avgdl are broadcast
    * scalars; the ranked set comes from a global TakeOrderedAndProject
    * (sort+limit), not a single-partition window.
    *
    * Determinism: dl and tf are exact integers, avgdl = exact integer sum /
    * exact count; per-doc score sums ≤ 3 terms and rounds to 6 dp before
    * the rank — the tx_entropy argument (1-ulp libm drift vs 1e-6 grain)
    * applies. Ties at the cut break on doc_id, making the 20-row set total.
    */
  /** Per-doc BM25 score table for the fixed query — shared by [[ixBm25]]
    * and the hybrid fusion so the lexical leg cannot drift between gates.
    */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE fused per-doc aggregate (r18 batch 3, the dq_rules trick):
    // dl and the three query-term tfs ride a single pass over the token
    // explode instead of the old dl/stats/tf/df four-subtree fan-out
    // (4 corpus explodes in the plan; 12 scans inside ix_hybrid). The
    // stack() unpivot rebuilds the (doc_id, tok, tf) rows the scoring
    // join consumed before — and carries dl with them, so the old
    // dl-rejoin disappears too. perDoc is pinned: it is the per-snapshot
    // doc-stats artifact of a production index (one narrow row per doc).
    val qterms = Seq("join", "hash", "scan")
    val tk = toks(s, d)
    val perDoc = Pins(tk.groupBy($"doc_id").agg(
        count(lit(1)).as("dl"),
        count(when($"tok" === qterms(0), 1)).as("tf0"),
        count(when($"tok" === qterms(1), 1)).as("tf1"),
        count(when($"tok" === qterms(2), 1)).as("tf2")))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
    val tf = perDoc.select($"doc_id", $"dl",
        expr(s"stack(3, '${qterms(0)}', tf0, '${qterms(1)}', tf1, " +
          s"'${qterms(2)}', tf2) AS (tok, tf)"))
      .where($"tf" > 0)
    val dfTbl = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfTbl), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", $"sum_dl".cast("double") / $"n_docs")
      .withColumn("idf", log(lit(1.0) + ($"n_docs" - $"df" + 0.5) / ($"df" + 0.5)))
      .withColumn("ts",
        $"idf" * ($"tf" * 2.2) /
          ($"tf" + ($"dl" / $"avgdl" * 0.75 + 0.25) * 1.2))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), round(sum($"ts"), 6).as("bm25"))
  }

  val ixBm25: Q = (s, d) => {
    import s.implicits._
    bm25Scored(s, d)
      .orderBy($"bm25".desc, $"doc_id")
      .limit(20)
  }
  /** Shared oracle CTE block ending in `lexs(doc_id, n_terms, bm25)` —
    * reused by ix_bm25 and ix_hybrid so the lexical leg cannot drift.
    */
  private val bm25CteSql: String =
    """tk AS (
      |  SELECT doc_id, tok
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE len(tok) > 0),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk
      |       WHERE tok IN ('join', 'hash', 'scan') GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |scored AS (
      |  SELECT t.doc_id,
      |         ln(1.0 + (n_docs - f.df + 0.5) / (f.df + 0.5))
      |           * (t.tf * 2.2)
      |           / (t.tf + (l.dl / (CAST(sum_dl AS DOUBLE) / n_docs) * 0.75 + 0.25) * 1.2) AS ts
      |  FROM tf t JOIN df f USING (tok) JOIN dl l USING (doc_id) CROSS JOIN stats),
      |lexs AS (
      |  SELECT doc_id, count(*) AS n_terms, round(sum(ts), 6) AS bm25
      |  FROM scored GROUP BY doc_id)""".stripMargin

  val ixBm25Sql: String =
    s"""WITH $bm25CteSql
       |SELECT doc_id, n_terms, bm25
       |FROM lexs ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  // ------------------------------------------------- hybrid fusion (RRF)

  /** ix_hybrid — hybrid retrieval: the lexical top-20 (BM25, [[ixBm25]]'s
    * exact leg) and the semantic top-20 (cosine against a probe query
    * vector) fused by Reciprocal Rank Fusion,
    * RRF(d) = Σ_legs 1/(60 + rank_leg(d)) — Cormack et al. 2009's
    * score-free fusion, the industry-default way to combine legs whose
    * raw scores live on incomparable scales. Docs surfaced by BOTH legs
    * rise; k=60 damps any single leg's head.
    *
    * Scale shape: each leg reduces to its top-k with a distributed
    * TakeOrderedAndProject BEFORE any window — the row_number that
    * assigns ranks runs on the k surviving rows, never the corpus (the
    * q1_page limit-before-window discipline). The fusion itself is a
    * k-row full-outer join. The semantic leg is the brute-force
    * correctness baseline (one broadcast probe row against the corpus,
    * still one scan); at real scale it swaps for the trained-IVF search
    * (ann_ivf_search) with the SAME output contract — rank_sem is all
    * the fusion reads. Ranks are exact ints; the only float is the final
    * two-term reciprocal sum, one addition in a fixed order, round-6.
    */
  val ixHybrid: Q = (s, d) => {
    import s.implicits._
    val wLex = org.apache.spark.sql.expressions.Window
      .orderBy($"bm25".desc, $"doc_id")
    val lex = bm25Scored(s, d)
      .orderBy($"bm25".desc, $"doc_id").limit(20)
      .withColumn("rank_lex", row_number().over(wLex).cast("long"))
      .select($"doc_id", $"rank_lex")
    val e = tbl(s, d, "embeddings")
    val probe = e.where($"vec_id" === 0).select($"embedding".as("eq"))
    val wSem = org.apache.spark.sql.expressions.Window
      .orderBy($"cos".desc, $"doc_id")
    val sem = e.where($"vec_id" =!= 0)
      .crossJoin(broadcast(probe))
      .select($"vec_id".as("doc_id"),
        round(graft.functions.vector.cosine_sim($"embedding", $"eq"), 6).as("cos"))
      .orderBy($"cos".desc, $"doc_id").limit(20)
      .withColumn("rank_sem", row_number().over(wSem).cast("long"))
      .select($"doc_id", $"rank_sem")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + $"rank_lex"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + $"rank_sem"), lit(0.0)), 6))
      .orderBy($"rrf".desc, $"doc_id")
      .limit(15)
      .select($"doc_id", $"rank_lex", $"rank_sem", $"rrf")
  }
  val ixHybridSql: String =
    s"""WITH $bm25CteSql,
       |lex AS (
       |  SELECT doc_id, rank_lex FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
       |    FROM lexs)
       |  WHERE rank_lex <= 20),
       |sem0 AS (
       |  SELECT y.vec_id AS doc_id,
       |         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                      CAST(y.embedding AS DOUBLE[])), 6) AS cos
       |  FROM embeddings y, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |  WHERE y.vec_id <> 0),
       |sem AS (
       |  SELECT doc_id, rank_sem FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_sem
       |    FROM sem0)
       |  WHERE rank_sem <= 20)
       |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, rank_lex, rank_sem,
       |       round(COALESCE(1.0 / (60 + rank_lex), 0.0)
       |           + COALESCE(1.0 / (60 + rank_sem), 0.0), 6) AS rrf
       |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin

  /** ix_trgm — trigram-index SUBSTRING search (the pg_trgm / Google
    * code-search technique, Cox 2012): find documents containing the raw
    * byte pattern "uery lin" — a string that CROSSES token boundaries,
    * the query class the tokenized index family (ix_phrase, ix_postings)
    * structurally cannot answer and the reason code/URL corpora index
    * trigrams. A doc can contain the pattern only if it contains EVERY
    * one of the pattern's character trigrams, so candidates come from an
    * inverted trigram posting list and only candidates are verified
    * against the raw text.
    *
    * Scale shape: the posting build is one explode + literal-IN filter
    * (no shuffle until the matching slice — at 100 TB the posting table
    * is the persisted index, built once per snapshot like ix_postings);
    * the AND-of-trigrams is one doc-keyed count==k aggregation; the
    * verify step rescans only candidate docs via a doc-keyed join.
    * Exactness: positions and counts are pure integer string ops —
    * instr/strpos share 1-based/0-absent semantics, and the occurrence
    * count is the (len − len(replace))/|P| identity in both engines
    * (non-overlapping occurrences, the replace semantics both share).
    */
  /** The FULL distinct (doc_id, trigram) posting table, memoized per
    * (session, dir) — ix_postings' discipline applied to character
    * trigrams: at 100 TB this is the persisted pg_trgm-style index,
    * built once per snapshot; queries scan only their trigrams' postings.
    * (Until round 12 each query re-derived its posting slice per call
    * with an IN-filter inside the generator lambda — cheaper than a full
    * un-memoized build, but still a per-call corpus scan through an
    * interpreted λ; the prebuilt index is both the production shape and
    * 4× faster per query: ix_trgm 1.99 → ~0.5 s at sf0.1.)
    */
  private def docCount(s: SparkSession, d: String): Long =
    graft.Tables.cachedCount(s, d, "documents")

  private def cachedTrgmPostings(s: SparkSession, d: String): DataFrame = {
    // Persisted parquet artifact, not executor block storage: the sf10
    // probe OOM'd this build (AGGREGATE_OUT_OF_MEMORY) two ways at once —
    // the ~150M exploded (doc_id, tg) rows hit a 32-partition distinct
    // whose per-task hash maps outgrew the execution pool, WHILE the
    // previous attempt's localCheckpoint blocks sat in storage memory
    // squeezing that same pool. The explicit hash repartition below sizes
    // the aggregation by corpus (distinct reuses the partitioning — same
    // shuffle count, just N maps instead of 32), and a parquet artifact
    // keeps the built index out of the block manager entirely — which is also the
    // operational shape the docstring above promises at 100 TB.
    val parts = math.max(32L, docCount(s, d) / 2000L).toInt
    val fp = graft.Artifacts.fingerprint(s"$d/documents.parquet")
    graft.Artifacts.table(s, "trgm_postings", s"$d|$fp")(
      tbl(s, d, "documents")
        .where(length(col("text")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")).as("tg"))
        .repartition(parts, col("doc_id"), col("tg"))
        .distinct())
  }

  /** Doc ids whose posting rows cover EVERY query trigram. */
  private def trgmCandidates(s: SparkSession, d: String,
                             tris: Seq[String]): DataFrame =
    cachedTrgmPostings(s, d)
      .where(col("tg").isin(tris: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("ntg"))
      .where(col("ntg") === tris.size)

  val ixTrgm: Q = (s, d) => {
    import s.implicits._
    val P = "uery lin"
    val tris = P.sliding(3).toSeq.distinct
    trgmCandidates(s, d, tris).join(tbl(s, d, "documents"), "doc_id")
      .select($"doc_id", instr($"text", P).cast("long").as("first_pos"),
        ((length($"text") - length(expr(s"replace(text, '$P', '')"))) / P.length)
          .cast("long").as("n_hits"))
      .where($"first_pos" > 0)
      .orderBy($"doc_id")
  }
  val ixTrgmSql: String = {
    val P = "uery lin"
    val tris = P.sliding(3).toSeq.distinct
    val inList = tris.map(t => s"'$t'").mkString(", ")
    s"""WITH post AS (
       |  SELECT DISTINCT doc_id, tg FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(text) - 1),
       |                  i -> substr(text, i, 3))) AS tg
       |    FROM documents WHERE len(text) >= 3)
       |  WHERE tg IN ($inList)),
       |cand AS (SELECT doc_id FROM post GROUP BY doc_id
       |         HAVING count(*) = ${tris.size})
       |SELECT d.doc_id, CAST(strpos(d.text, '$P') AS BIGINT) AS first_pos,
       |       CAST((len(d.text) - len(replace(d.text, '$P', ''))) // ${P.length} AS BIGINT)
       |         AS n_hits
       |FROM cand c JOIN documents d USING (doc_id)
       |WHERE strpos(d.text, '$P') > 0
       |ORDER BY d.doc_id""".stripMargin
  }

  /** ix_regex — regex search over the trigram index (Cox 2012, the
    * Google Code Search algorithm): a regex's literal fragments imply a
    * NECESSARY trigram condition — here `quer[a-z]* lin[a-z]*` forces
    * every match to contain "que", "uer" (from the `quer` literal) and
    * " li", "lin" (the literal space + `lin`) — so candidates come from
    * the same AND-of-trigrams posting scan as [[ixTrgm]] and only
    * candidates pay the regex automaton. This is how a 100 TB corpus
    * answers regex queries without a full scan: the posting index prunes,
    * the engine verifies.
    *
    * Exactness: the pattern stays inside the regex subset where Java's
    * engine (Spark) and RE2 (DuckDB) agree exactly — literal runs,
    * greedy `[a-z]*`, leftmost non-overlapping match enumeration.
    */
  val ixRegex: Q = (s, d) => {
    import s.implicits._
    val pat = "quer[a-z]* lin[a-z]*"
    val tris = Seq("que", "uer", " li", "lin")
    trgmCandidates(s, d, tris).join(tbl(s, d, "documents"), "doc_id")
      .select($"doc_id",
        expr(s"CAST(regexp_count(text, '$pat') AS BIGINT)").as("n_matches"),
        regexp_extract($"text", pat, 0).as("first_match"))
      .where($"n_matches" > 0)
      .orderBy($"doc_id")
  }
  val ixRegexSql: String = {
    val pat = "quer[a-z]* lin[a-z]*"
    val inList = Seq("que", "uer", " li", "lin").map(t => s"'$t'").mkString(", ")
    s"""WITH post AS (
       |  SELECT DISTINCT doc_id, tg FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(text) - 1),
       |                  i -> substr(text, i, 3))) AS tg
       |    FROM documents WHERE len(text) >= 3)
       |  WHERE tg IN ($inList)),
       |cand AS (SELECT doc_id FROM post GROUP BY doc_id HAVING count(*) = 4)
       |SELECT d.doc_id,
       |       CAST(len(regexp_extract_all(d.text, '$pat')) AS BIGINT) AS n_matches,
       |       regexp_extract(d.text, '$pat') AS first_match
       |FROM cand c JOIN documents d USING (doc_id)
       |WHERE len(regexp_extract_all(d.text, '$pat')) > 0
       |ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------------- phrase query

  /** ix_phrase — positional-index phrase search: find documents containing
    * the exact 3-word phrase "small query line" and count occurrences per
    * doc. The query class BM25's bag-of-words scoring cannot answer and
    * the reason real inverted indexes store positions (Lucene's
    * PhraseQuery): term adjacency, not mere co-occurrence.
    *
    * Scale shape: the token stream filters to the PHRASE'S terms before
    * anything else — the work is O(postings of the query terms), never
    * the corpus, exactly what consulting a positional index buys. The
    * phrase assembles by equi-joining each term's postings on
    * (doc_id, pos − offset): all three legs shuffle on the same compound
    * key (one co-partitioned exchange family, AQE-broadcastable for rare
    * terms), no window, no per-row arrays. (doc_id, pos) is unique per
    * leg, so the join count is the exact occurrence count.
    */
  val ixPhrase: Q = (s, d) => {
    import s.implicits._
    val phrase = Seq("small", "query", "line")
    val pos = tbl(s, d, "documents")
      .select($"doc_id", posexplode(split($"text", " ")))
      .withColumnRenamed("col", "tok")
      .where($"tok".isin(phrase: _*))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"tok")
    val legs = phrase.zipWithIndex.map { case (w, i) =>
      pos.where($"tok" === w).select($"doc_id", ($"pos" - i).as("pos"))
    }
    legs.reduce(_.join(_, Seq("doc_id", "pos")))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy($"doc_id")
  }
  val ixPhraseSql: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |         unnest(range(0, len(string_split(text, ' ')))) AS pos
      |  FROM documents),
      |t0 AS (SELECT doc_id, pos FROM tk WHERE tok = 'small'),
      |t1 AS (SELECT doc_id, pos - 1 AS pos FROM tk WHERE tok = 'query'),
      |t2 AS (SELECT doc_id, pos - 2 AS pos FROM tk WHERE tok = 'line')
      |SELECT doc_id, count(*) AS n_hits
      |FROM t0 JOIN t1 USING (doc_id, pos) JOIN t2 USING (doc_id, pos)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- more-like-this

  /** ix_mlt — sparse "more-like-this": top-5 cosine-similar documents per
    * probe doc over TF-IDF term vectors (tx_tfidf's exact weighting).
    * The sparse complement of the dense ANN family: no embeddings
    * needed, similarity comes from the inverted index itself — Lucene's
    * MoreLikeThis expressed relationally.
    *
    * Scale shape: the probe vectors (3 docs × their terms) broadcast
    * onto the term-keyed weight table — the sparse dot product IS a
    * posting-list join on `tok`, touching only docs sharing a probe
    * term, never the corpus product. Norms are one per-doc aggregate.
    * Weights quantize to 6 dp before any product; dot and norms round-6
    * before the final division (libm-vs-grain argument, tx_tfidf
    * precedent), and ties at the cut break on doc id.
    */
  val ixMlt: Q = (s, d) => {
    import s.implicits._
    // tf and w are pinned (r18 batch 3): both are probe-domain-bounded
    // (doc_id < 300 — O(300 × distinct terms) rows at ANY corpus size),
    // yet tf fans into n_docs/df/w and w into norms/probes/dots, so the
    // unpinned plan replicated the explode+count subtree ~6× (measured:
    // 72 Exchanges / 24 scans). Two eager checkpoints collapse it.
    val tf = Pins(tbl(s, d, "documents")
      .where($"doc_id" < 300)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf")))
    val nDocs = tf.select(countDistinct($"doc_id").as("n_docs"))
    val dfT = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val w = Pins(tf.join(broadcast(dfT), Seq("tok")).crossJoin(broadcast(nDocs))
      .select($"doc_id", $"tok",
        round($"tf" * (log(($"n_docs" + 1).cast("double") / ($"df" + 1)) + 1), 6)
          .as("w")))
    val norms = w.groupBy($"doc_id")
      .agg(round(sqrt(sum($"w" * $"w")), 6).as("norm"))
    val probes = w.where($"doc_id" < 3)
      .select($"doc_id".as("q"), $"tok", $"w".as("wq"))
    val dots = probes.join(w.where($"doc_id" >= 3), Seq("tok"))
      .groupBy($"q", $"doc_id")
      .agg(round(sum($"wq" * $"w"), 6).as("dot"))
    dots
      .join(norms.select($"doc_id".as("q"), $"norm".as("nq")), Seq("q"))
      .join(norms, Seq("doc_id"))
      .select($"q", $"doc_id".as("n"),
        round($"dot" / ($"nq" * $"norm"), 6).as("cos"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"q").orderBy($"cos".desc, $"n")).cast("long"))
      .where($"rank" <= 5)
      .orderBy($"q", $"rank")
  }
  val ixMltSql: String =
    """WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents WHERE doc_id < 300)
      |  GROUP BY doc_id, tok),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |w AS (
      |  SELECT doc_id, tok,
      |         round(tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1), 6) AS w
      |  FROM tf JOIN df USING (tok) CROSS JOIN nd),
      |norms AS (SELECT doc_id, round(sqrt(sum(w * w)), 6) AS norm
      |          FROM w GROUP BY doc_id),
      |dots AS (
      |  SELECT p.doc_id AS q, c.doc_id AS n, round(sum(p.w * c.w), 6) AS dot
      |  FROM (SELECT * FROM w WHERE doc_id < 3) p
      |  JOIN (SELECT * FROM w WHERE doc_id >= 3) c USING (tok)
      |  GROUP BY 1, 2)
      |SELECT q, n, cos, rank FROM (
      |  SELECT d.q, d.n, round(d.dot / (nq.norm * nn.norm), 6) AS cos,
      |         row_number() OVER (PARTITION BY d.q ORDER BY
      |           round(d.dot / (nq.norm * nn.norm), 6) DESC, d.n) AS rank
      |  FROM dots d
      |  JOIN norms nq ON nq.doc_id = d.q
      |  JOIN norms nn ON nn.doc_id = d.n)
      |WHERE rank <= 5 ORDER BY q, rank""".stripMargin

  // ------------------------------------------------------ spell correction

  /** ix_spell — SymSpell-style query spell correction (Garbe's algorithm,
    * the production standard because it replaces the per-query O(|Σ|·len)
    * edit-candidate enumeration with PRECOMPUTED deletion neighborhoods):
    * every vocab word and every probe expands to {itself} ∪ {delete-one
    * variants}; two strings within edit distance 1 — and transposition-
    * shaped distance-2s — are GUARANTEED to share a variant, so candidate
    * generation is a plain hash EQUI-JOIN on the variant string, never a
    * fuzzy scan of the vocabulary. Survivors verify with the bounded
    * 3-arg levenshtein and rank (distance, then corpus frequency, then
    * word) — frequency is the language model, as in every real corrector.
    *
    * The gate plants its own misspellings deterministically: the top-30
    * frequent ≥5-char words with char 3 dropped, so the true source word
    * sits at distance 1 and must win. Scale shape: the deletion index is
    * O(vocab·len) rows built once per corpus snapshot (a persistable
    * artifact like the BPE vocab); per-query work is the probe's ≤ len+1
    * variants hash-joined against it — independent of corpus size.
    */
  val ixSpell: Q = (s, d) => {
    import s.implicits._
    val vocab = toks(s, d).groupBy($"tok").agg(count(lit(1)).as("freq"))
      .where($"freq" >= 5 && length($"tok") >= 4)
    val probes = vocab.where(length($"tok") >= 5)
      .orderBy($"freq".desc, $"tok").limit(30)
      .select(concat(substring($"tok", 1, 2), expr("substring(tok, 4)")).as("probe"))
      .distinct()
    def dels(c: String) = expr(
      s"array_union(array($c), transform(sequence(1, length($c)), " +
        s"i -> concat(substring($c, 1, i - 1), substring($c, i + 1))))")
    val vocabDel = vocab.select($"tok", $"freq", explode(dels("tok")).as("variant"))
    val probeDel = probes.select($"probe", explode(dels("probe")).as("variant"))
    val cand = probeDel.join(vocabDel, "variant")
      .select($"probe", $"tok", $"freq").distinct()
      .withColumn("lev", levenshtein($"probe", $"tok", 2))
      .where($"lev" >= 0)
    cand.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"probe")
          .orderBy($"lev", $"freq".desc, $"tok")))
      .where($"rk" === 1)
      .select($"probe", $"tok".as("suggestion"), $"lev".cast("long").as("lev"), $"freq")
      .orderBy($"probe")
  }
  val ixSpellSql: String =
    """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |vocab AS (SELECT tok, count(*) AS freq FROM t
      |          WHERE len(tok) > 0 GROUP BY tok
      |          HAVING count(*) >= 5 AND len(tok) >= 4),
      |probes AS (
      |  SELECT DISTINCT substr(tok, 1, 2) || substr(tok, 4) AS probe FROM (
      |    SELECT tok, freq FROM vocab WHERE len(tok) >= 5
      |    ORDER BY freq DESC, tok LIMIT 30)),
      |vdel AS (
      |  SELECT tok, freq, unnest(list_distinct(list_append(
      |           list_transform(range(1, len(tok) + 1),
      |             i -> substr(tok, 1, i - 1) || substr(tok, i + 1)), tok))) AS variant
      |  FROM vocab),
      |pdel AS (
      |  SELECT probe, unnest(list_distinct(list_append(
      |           list_transform(range(1, len(probe) + 1),
      |             i -> substr(probe, 1, i - 1) || substr(probe, i + 1)), probe))) AS variant
      |  FROM probes),
      |cand AS (
      |  SELECT DISTINCT probe, tok, freq
      |  FROM pdel JOIN vdel USING (variant)),
      |scored AS (
      |  SELECT probe, tok, freq, levenshtein(probe, tok) AS lev
      |  FROM cand WHERE levenshtein(probe, tok) <= 2)
      |SELECT probe, tok AS suggestion, CAST(lev AS BIGINT) AS lev, freq FROM (
      |  SELECT probe, tok, freq, lev,
      |         row_number() OVER (PARTITION BY probe
      |                            ORDER BY lev, freq DESC, tok) AS rk
      |  FROM scored)
      |WHERE rk = 1 ORDER BY probe""".stripMargin

  // ------------------------------------------------------------- snippets

  /** ix_snippet — hit highlighting: for every document matching the fixed
    * query, the ±5-token window around its FIRST query-term occurrence —
    * the result-page text every search UI renders next to the BM25 score.
    * One positional explode filtered to the query terms (the isin reaches
    * the scan), a per-doc min aggregation for the first hit, and a join
    * back to the doc's token array for the slice — snippet assembly never
    * shuffles anything wider than (doc, position).
    */
  val ixSnippet: Q = (s, d) => {
    import s.implicits._
    val qterms = Seq("join", "hash", "scan")
    val docs = tbl(s, d, "documents").where($"doc_id" < 300)
      .select($"doc_id", split($"text", " ").as("w"))
    val hits = docs
      .select($"doc_id", posexplode($"w").as(Seq("p", "tok")))
      .where($"tok".isin(qterms: _*))
      .groupBy($"doc_id")
      .agg(min($"p").as("hit_pos"), expr("min_by(tok, p)").as("term"))
    docs.join(hits, "doc_id")
      .select($"doc_id", $"hit_pos".cast("long").as("hit_pos"), $"term",
        array_join(slice($"w", greatest(lit(1), $"hit_pos" - 4), lit(11)), " ")
          .as("snippet"))
      .orderBy($"doc_id")
  }
  val ixSnippetSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
      |           FROM documents WHERE doc_id < 300),
      |t AS (SELECT doc_id, p, w[p + 1] AS tok FROM (
      |        SELECT doc_id, w, unnest(range(0, len(w))) AS p FROM d)),
      |hits AS (
      |  SELECT doc_id, min(p) AS hit_pos, min_by(tok, p) AS term
      |  FROM t WHERE tok IN ('join', 'hash', 'scan') GROUP BY doc_id)
      |SELECT d.doc_id, CAST(h.hit_pos AS BIGINT) AS hit_pos, h.term,
      |       array_to_string(d.w[greatest(1, h.hit_pos - 4) :
      |                           greatest(1, h.hit_pos - 4) + 10], ' ') AS snippet
      |FROM d JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- facets

  /** ix_facets — faceted result counts for the fixed query: how the
    * matching doc set distributes over (lang, source), with per-facet
    * share — the filter sidebar every search UI renders next to the
    * results, and the slice-coverage read ("are the hits all from one
    * crawl?") a curation pass wants. Matching docs come from ONE
    * distinct semi-join of the term-filtered token stream (the isin
    * reaches the scan); facet counts are one aggregation over it;
    * the total rides a window over the O(facets) cells.
    */
  val ixFacets: Q = (s, d) => {
    import s.implicits._
    val qterms = Seq("join", "hash", "scan")
    val hits = toks(s, d).where($"tok".isin(qterms: _*))
      .select($"doc_id").distinct()
    val cells = tbl(s, d, "documents")
      .join(hits, "doc_id")
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
    cells.withColumn("total",
        sum($"n").over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select($"lang", $"source", $"n",
        round($"n".cast("double") / $"total", 6).as("share"))
      .orderBy($"lang", $"source")
  }
  val ixFacetsSql: String =
    """WITH hits AS (
      |  SELECT DISTINCT doc_id
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok IN ('join', 'hash', 'scan')),
      |cells AS (
      |  SELECT d.lang, d.source, count(*) AS n
      |  FROM documents d JOIN hits USING (doc_id)
      |  GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)
      |SELECT lang, source, n, round(CAST(n AS DOUBLE) / total, 6) AS share
      |FROM cells, tot ORDER BY lang, source""".stripMargin

  // --------------------------------------------------------- autocomplete

  /** ix_suggest — the prefix-completion index build: top-3 completions by
    * corpus frequency for every 2- and 3-char vocabulary prefix — the
    * materialized trie every search box's typeahead reads (the trie is
    * expressed RELATIONALLY: a (prefix, rank, term) table a point lookup
    * hits by prefix key, which is how distributed serving stores —
    * including the reference's own key/filter store — would hold it).
    *
    * Build shape: one token-count aggregation (O(vocab) out), each vocab
    * word explodes into its ≤2 prefixes, and a per-prefix top-k window
    * ranks by (freq desc, term) — O(vocab·2) rows through one keyed
    * window, never a corpus-sized shuffle. freq ≥ 5 is the noise floor
    * (ixSpell's), and the index is a per-snapshot artifact like the
    * deletion neighborhoods.
    */
  val ixSuggest: Q = (s, d) => {
    import s.implicits._
    val vocab = toks(s, d).groupBy($"tok").agg(count(lit(1)).as("freq"))
      .where($"freq" >= 5 && length($"tok") >= 4)
    val pref = vocab.select($"tok", $"freq",
      explode(array(substring($"tok", 1, 2), substring($"tok", 1, 3))).as("prefix"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"prefix").orderBy($"freq".desc, $"tok")
    pref.withColumn("rk", row_number().over(w))
      .where($"rk" <= 3)
      .select($"prefix", $"rk".cast("long").as("rk"), $"tok".as("term"), $"freq")
      .orderBy($"prefix", $"rk")
  }
  val ixSuggestSql: String =
    """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |vocab AS (SELECT tok, count(*) AS freq FROM t
      |          WHERE len(tok) > 0 GROUP BY tok
      |          HAVING count(*) >= 5 AND len(tok) >= 4),
      |pref AS (
      |  SELECT tok, freq, unnest([substr(tok, 1, 2), substr(tok, 1, 3)]) AS prefix
      |  FROM vocab)
      |SELECT prefix, CAST(rk AS BIGINT) AS rk, tok AS term, freq FROM (
      |  SELECT prefix, tok, freq,
      |         row_number() OVER (PARTITION BY prefix ORDER BY freq DESC, tok) AS rk
      |  FROM pref)
      |WHERE rk <= 3 ORDER BY prefix, rk""".stripMargin

  val queries: Map[String, Q] = Map(
    "ix_postings" -> ixPostings,
    "ix_spell"    -> ixSpell,
    "ix_suggest"  -> ixSuggest,
    "ix_snippet"  -> ixSnippet,
    "ix_facets"   -> ixFacets,
    "ix_bm25"     -> ixBm25,
    "ix_hybrid"   -> ixHybrid,
    "ix_phrase"   -> ixPhrase,
    "ix_trgm"     -> ixTrgm,
    "ix_regex"    -> ixRegex,
    "ix_mlt"      -> ixMlt)
  val oracles: Map[String, String] = Map(
    "ix_postings" -> ixPostingsSql,
    "ix_spell"    -> ixSpellSql,
    "ix_suggest"  -> ixSuggestSql,
    "ix_snippet"  -> ixSnippetSql,
    "ix_facets"   -> ixFacetsSql,
    "ix_bm25"     -> ixBm25Sql,
    "ix_hybrid"   -> ixHybridSql,
    "ix_phrase"   -> ixPhraseSql,
    "ix_trgm"     -> ixTrgmSql,
    "ix_regex"    -> ixRegexSql,
    "ix_mlt"      -> ixMltSql)
}

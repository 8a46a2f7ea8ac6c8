package graft.queries

import graft.{QueryDef, QueryModule, Tables}
import graft.llm.{SimilarityOps, TextDedupOps, TextStatsOps, UrlOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM training-data pipeline queries (north-star): dedup, similarity
  * search, text analysis over documents/embeddings. MinHash/SimHash raw
  * values have no DuckDB twin (xxhash64 is Spark-side), so their gate
  * queries pin an ENGINE-INDEPENDENT invariant instead: pairs with
  * identical normalized text (md5-fingerprint join — DuckDB-computable)
  * are guaranteed identical MinHash signatures (hence LSH candidates
  * with est_jaccard exactly 1.0) and identical SimHash (hence Hamming
  * distance 0), because both derive deterministically from the
  * normalized token stream. The full candidate/signature behavior is
  * additionally covered by ScalaTest planted-dup recall tests.
  */
object LlmQueries extends QueryModule {

  private val T = Tables

  private def normSql(x: String): String =
    s"trim(regexp_replace(regexp_replace(lower($x), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** The byte-level BPE fixpoint oracle skeleton (the bpe_byte_encode
    * CTE, parameterized): GPT-2 pretokenize via the SAME RE2-safe
    * regex, byte-mark via chr(), run the recursive lowest-rank
    * replace() fixpoint with the 24 DEMO merges over DISTINCT
    * pretokens, and re-join per-document occurrences. `vocabRows`
    * supplies the (tok, tid) VALUES (the id scheme varies by gate);
    * `plantedValues` appends closed-form rows for planted documents
    * whose encodings are hand-derived (rules outside the demo table —
    * which can never fire on the ASCII corpus — are stated as
    * expectations, never replayed). */
  private def bpeByteFixpointOracle(vocabRows: String, corpusSql: String,
      plantedValues: Option[String]): String = {
    val mergeRows = TextStatsOps
      .bpeMergePatterns(TextStatsOps.BpeDemoMerges).zipWithIndex
      .map { case ((pat, rep), i) => s"(${i + 1}, '$pat', '$rep')" }
      .mkString(",\n    ")
    val reSql = "'" + TextStatsOps.Gpt2PretokenRe.replace("'", "''") + "'"
    val base =
      s"""WITH RECURSIVE merges(rank, pat, rep) AS (VALUES
         |    $mergeRows),
         |vocab(tok, tid) AS (VALUES
         |    $vocabRows),
         |corpus AS ($corpusSql),
         |t AS (SELECT doc_id,
         |    regexp_extract_all(text, $reSql, 0) AS ws
         |  FROM corpus),
         |wi AS (SELECT doc_id, ws,
         |    unnest(generate_series(0, len(ws) - 1)) AS tok_idx FROM t),
         |wr AS (SELECT doc_id, CAST(tok_idx AS INTEGER) AS tok_idx,
         |    translate(ws[tok_idx + 1],
         |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13),
         |      chr(288) || chr(265) || chr(266) || chr(267) || chr(268)
         |        || chr(269)) AS word FROM wi),
         |uw AS (SELECT DISTINCT word FROM wr),
         |init AS (SELECT word, ' ' || array_to_string(
         |    list_transform(range(1, length(word) + 1),
         |      i -> substr(word, CAST(i AS INT), 1)), ' ') || ' ' AS state
         |  FROM uw),
         |rec AS (
         |  SELECT word, state FROM init
         |  UNION ALL
         |  SELECT x.word, replace(x.state, m.pat, m.rep)
         |  FROM (SELECT r.word, r.state,
         |      (SELECT min(m2.rank) FROM merges m2
         |       WHERE contains(r.state, m2.pat)) AS br
         |    FROM rec r) x
         |  JOIN merges m ON m.rank = x.br),
         |fin AS (SELECT word, string_split(trim(state, ' '), ' ') AS syms
         |  FROM rec r
         |  WHERE NOT EXISTS (SELECT 1 FROM merges m
         |                    WHERE contains(r.state, m.pat))),
         |fe AS (SELECT word, syms,
         |    unnest(generate_series(0, len(syms) - 1)) AS sym_idx FROM fin),
         |ft AS (SELECT word, CAST(sym_idx AS INTEGER) AS sym_idx,
         |    syms[sym_idx + 1] AS token FROM fe)
         |SELECT w.doc_id, w.tok_idx, f.sym_idx, f.token,
         |  CAST(CASE WHEN length(f.token) = 1 THEN ascii(f.token)
         |       ELSE v.tid END AS INTEGER) AS token_id
         |FROM wr w JOIN ft f USING (word)
         |LEFT JOIN vocab v ON v.tok = f.token""".stripMargin
    plantedValues match {
      case None => base
      case Some(v) => base +
        s"""
           |UNION ALL
           |SELECT CAST(doc_id AS BIGINT), CAST(tok_idx AS INTEGER),
           |  CAST(sym_idx AS INTEGER), token, CAST(token_id AS INTEGER)
           |FROM (VALUES
           |$v) p(doc_id, tok_idx, sym_idx, token, token_id)""".stripMargin
    }
  }

  /** Planted lang_id gate corpus: one natural LOWERCASE sentence per
    * profiled language, in LangCodes (alphabetical) order — lowercase
    * keeps `lower()` an identity on both engines (sidestepping any
    * Unicode case-mapping divergence, e.g. Turkish dotted I). */
  private[graft] val LangSamples: Seq[(String, String)] = Seq(
    "da" -> ("det er ikke til at vide hvad der kommer til at ske i morgen " +
      "og om det bliver godt"),
    "de" -> ("der schnelle braune fuchs springt über den faulen hund und " +
      "die katze schaut einfach zu"),
    "en" -> ("the quick brown fox jumps over the lazy dog and the cat of " +
      "the house is watching"),
    "es" -> ("la casa de mi familia que está en el pueblo es muy grande y " +
      "los árboles dan sombra"),
    "fi" -> ("tämä on suomenkielinen lause jossa on useita sanoja ja jossa " +
      "kirjaimet ovat tärkeitä"),
    "fr" -> ("le chat de la maison que nous avons est très gentil et il " +
      "mange les souris du jardin"),
    "it" -> ("la casa di mia madre che si trova in città è molto grande " +
      "per le persone della zona"),
    "nl" -> ("de kat van de buren is een heel mooi dier en hij komt vaak " +
      "naar het huis van ons"),
    "pl" -> ("nie wiem czy przyjdzie do nas jutro ale mam nadzieję że " +
      "wszystko będzie dobrze"),
    "pt" -> ("a casa da minha família que fica no campo é muito grande e " +
      "a comida de lá é boa"),
    "sv" -> ("det är en vacker dag och solen skiner över staden för alla " +
      "människor som är ute"),
    "tr" -> ("bugün hava çok güzel ve ben parka gitmek istiyorum ama " +
      "yarın belki olmaz diyorlar"))

  /** documents ∪ clones of docs 0-49 (planted exact duplicates). */
  private def augmented(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d).select("doc_id", "text")
    docs.unionByName(docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }
  private val augmentedSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50""".stripMargin

  /** DuckDB twin of `TextStatsOps.gopherRepetition` over the planted
    * corpus (see the gopher_repetition QueryDef). Recomputes every
    * metric by a DIFFERENT algorithm — explode + window counts + a
    * range cross-join for positional coverage — against the kernel's
    * per-row n-gram tables; agreement is therefore a
    * real differential check, not a shared-code echo. Generated from
    * the same threshold tables so the two sides cannot drift. */
  private def gopherRepOracle: String = {
    val tops = TextStatsOps.GopherTopNgramRules.map(_._1)
    val dups = TextStatsOps.GopherDupNgramRules.map(_._1)
    val topCtes = tops.map { n =>
      s"""top$n AS (
         |  SELECT doc_id, c * length(g) AS mass, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY c DESC, c * length(g) DESC) AS rn
         |  FROM (SELECT doc_id, g, count(*) AS c FROM (
         |      SELECT doc_id, array_to_string(list_slice(ws, j, j + ${n - 1}), ' ') AS g
         |      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - $n + 2)) AS j
         |            FROM t WHERE len(ws) >= $n))
         |    GROUP BY doc_id, g))""".stripMargin
    }
    val covCtes = dups.map { n =>
      s"""cov$n AS (
         |  SELECT cv.doc_id, sum(length(w.word)) AS cc
         |  FROM (SELECT DISTINCT d.doc_id, d.j + k.k AS wi
         |        FROM (SELECT doc_id, j FROM (
         |            SELECT doc_id, j, count(*) OVER (PARTITION BY doc_id, g) AS c
         |            FROM (SELECT doc_id, j,
         |                array_to_string(list_slice(ws, j, j + ${n - 1}), ' ') AS g
         |              FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - $n + 2)) AS j
         |                    FROM t WHERE len(ws) >= $n)))
         |          WHERE c >= 2) d
         |        CROSS JOIN (SELECT unnest(range(0, $n)) AS k) k) cv
         |  JOIN w ON w.doc_id = cv.doc_id AND w.wi = cv.wi
         |  GROUP BY cv.doc_id)""".stripMargin
    }
    val okPairs: Seq[(String, String, Double)] = Seq(
      ("dup_line_frac", "ok_dup_line", 0.30),
      ("dup_line_cfrac", "ok_dup_line_chars", 0.20),
      ("dup_para_frac", "ok_dup_para", 0.30),
      ("dup_para_cfrac", "ok_dup_para_chars", 0.20)) ++
      TextStatsOps.GopherTopNgramRules.map { case (n, th) =>
        (s"top_${n}gram_cfrac", s"ok_top_${n}gram", th) } ++
      TextStatsOps.GopherDupNgramRules.map { case (n, th) =>
        (s"dup_${n}gram_cfrac", s"ok_dup_${n}gram", th) }
    val topSel = tops.map(n =>
      s"    CAST(coalesce(t$n.mass, 0) AS DOUBLE) / tlen AS top_${n}gram_cfrac,")
      .mkString("\n")
    val covSel = dups.map(n =>
      s"    CAST(coalesce(c$n.cc, 0) AS DOUBLE) / tlen AS dup_${n}gram_cfrac")
      .mkString(",\n")
    val topJoin = tops.map(n =>
      s"  LEFT JOIN (SELECT doc_id, mass FROM top$n WHERE rn = 1) t$n ON t$n.doc_id = t.doc_id")
      .mkString("\n")
    val covJoin = dups.map(n =>
      s"  LEFT JOIN cov$n c$n ON c$n.doc_id = t.doc_id").mkString("\n")
    val okSel = okPairs.map { case (f, o, th) => s"  $f <= $th AS $o," }
      .mkString("\n")
    val keep = okPairs.map { case (f, _, th) => s"$f <= $th" }.mkString(" AND ")
    s"""WITH corpus AS (
       |  SELECT doc_id, CASE doc_id % 5
       |    WHEN 0 THEN text || chr(10) || text
       |    WHEN 1 THEN text || chr(10) || chr(10) || text
       |    WHEN 2 THEN text || ' ' || repeat(array_to_string(list_slice(
       |      list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''), 1, 5), ' ') || ' ', 8)
       |    ELSE text END AS text
       |  FROM documents),
       |t AS (SELECT doc_id, length(text) AS tlen,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws,
       |    list_filter(string_split(text, chr(10)), x -> x <> '') AS ls,
       |    list_filter(regexp_split_to_array(text, '\\n{2,}'), x -> x <> '') AS ps
       |  FROM corpus),
       |w AS (SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS wi FROM t),
       |${(topCtes ++ covCtes).mkString(",\n")},
       |m AS (
       |  SELECT t.doc_id,
       |    CASE WHEN len(ls) = 0 THEN 0.0 ELSE
       |      CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls) END AS dup_line_frac,
       |    CAST(coalesce(list_sum(list_transform(ls, x -> length(x))), 0) -
       |         coalesce(list_sum(list_transform(list_distinct(ls), x -> length(x))), 0) AS DOUBLE)
       |      / tlen AS dup_line_cfrac,
       |    CASE WHEN len(ps) = 0 THEN 0.0 ELSE
       |      CAST(len(ps) - len(list_distinct(ps)) AS DOUBLE) / len(ps) END AS dup_para_frac,
       |    CAST(coalesce(list_sum(list_transform(ps, x -> length(x))), 0) -
       |         coalesce(list_sum(list_transform(list_distinct(ps), x -> length(x))), 0) AS DOUBLE)
       |      / tlen AS dup_para_cfrac,
       |$topSel
       |$covSel
       |  FROM t
       |$topJoin
       |$covJoin)
       |SELECT doc_id, ${okPairs.map(_._1).mkString(", ")},
       |$okSel
       |  $keep AS keep
       |FROM m""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef("dedup_exact_text",
      (s, d) => TextDedupOps.exactDedup(augmented(s, d), "text", "doc_id")
        .select("doc_id"),
      Some(s"""SELECT doc_id FROM (
              |  SELECT doc_id, row_number() OVER (
              |    PARTITION BY md5(text) ORDER BY doc_id) AS rn
              |  FROM ($augmentedSql)) WHERE rn = 1""".stripMargin)),

    QueryDef("doc_fingerprint",
      (s, d) => T.documents(s, d).select(col("doc_id"),
        TextDedupOps.fingerprint(col("text")).as("fp")),
      Some(s"SELECT doc_id, md5(${normSql("text")}) AS fp FROM documents")),

    // Incremental dedup (TextDedupOps.dedupIncremental) — the
    // steady-state ingest shape: old corpus = doc_id < 250; the new
    // batch is the rest PLUS planted cross-batch clones (+10000: texts
    // already in the old corpus — must vanish against the index) and
    // within-batch clones (+20000: texts of new docs 250-299 — the
    // lower-id original survives, the clone vanishes). The oracle
    // replays first-per-normalized-text + NOT EXISTS against the old
    // side, so an index miss, a wrong keep choice, or normalization
    // drift each change the surviving id set.
    QueryDef("dedup_incremental",
      (s, d) => {
        val docs = T.documents(s, d).select(col("doc_id"), col("text"))
        val old = docs.filter(col("doc_id") < 250)
        val newBatch = docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") < 50)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id").between(250, 299))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        TextDedupOps.dedupIncremental(newBatch, old, "doc_id", "text")
          .select("doc_id")
      },
      Some(s"""WITH old AS (SELECT ${normSql("text")} AS nt
              |  FROM documents WHERE doc_id < 250),
              |newb AS (
              |  SELECT doc_id, ${normSql("text")} AS nt FROM documents
              |  WHERE doc_id >= 250
              |  UNION ALL SELECT doc_id + 10000, ${normSql("text")}
              |  FROM documents WHERE doc_id < 50
              |  UNION ALL SELECT doc_id + 20000, ${normSql("text")}
              |  FROM documents WHERE doc_id BETWEEN 250 AND 299),
              |first AS (SELECT min(doc_id) AS doc_id, nt
              |  FROM newb GROUP BY nt)
              |SELECT doc_id FROM first f
              |WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.nt = f.nt)"""
        .stripMargin)),

    // EXACTLY-ONCE exact-dedup ingest (IngestCommit, r17 verdict
    // task #1): the dedup_incremental loop driven through the commit
    // protocol a restartable foreachBatch pipeline needs — three
    // id-ordered batches (clones of docs 0-49 planted at +10000 in
    // the LAST batch, so they must die against the committed corpus),
    // with batch 2 KILLED after its corpus publish and replayed
    // (recovery must converge, the uncommitted partial stays
    // invisible) and the hwm batch replayed after commit (must skip
    // as a no-op — the benign Spark-epoch redelivery; replaying an
    // OLDER id now rejects loudly per the single-writer contract).
    // The oracle is the ONE-SHOT dedup: min doc_id per
    // normalized text over the whole planted corpus — id-ordered
    // batches make sequential ingest ≡ one-shot, so a replay
    // double-append, a visible uncommitted row, or a recovery that
    // recomputes against the wrong corpus view each change the id set
    // and hash-fail.
    QueryDef("ingest_exactly_once",
      (s, d) => {
        val docs = T.documents(s, d).select(col("doc_id"), col("text"))
        val planted = docs.unionByName(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        val dir = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-llm-ingest-${ProcessHandle.current().pid()}").toString
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true)
        import graft.llm.IngestCommit
        val b0 = planted.filter(col("doc_id") < 200)
        val b1 = planted.filter(col("doc_id").between(200, 399))
        val b2 = planted.filter(col("doc_id") >= 400)
        IngestCommit.exactDedupIngestBatch(b0, 0L, dir)
        IngestCommit.exactDedupIngestBatch(b1, 1L, dir)
        try IngestCommit.exactDedupIngestBatch(b2, 2L, dir,
          failpoint = pt => if (pt == "after-corpus") sys.error("kill"))
        catch { case _: RuntimeException => () }
        IngestCommit.exactDedupIngestBatch(b2, 2L, dir) // recovery
        IngestCommit.exactDedupIngestBatch(b2, 2L, dir) // hwm: skip
        IngestCommit.committedCorpus(s, dir, s"$dir/_commits")
          .select("doc_id")
      },
      Some(s"""WITH allb AS (
              |  SELECT doc_id, ${normSql("text")} AS nt FROM documents
              |  UNION ALL SELECT doc_id + 10000, ${normSql("text")}
              |  FROM documents WHERE doc_id < 50)
              |SELECT min(doc_id) AS doc_id FROM allb GROUP BY nt"""
        .stripMargin)),

    // INCREMENTAL near-dup dedup (TextDedupOps.lshIncremental, r12
    // verdict task #7): the MinHash-index twin of dedup_incremental —
    // the persisted signature index stands in for the existing corpus,
    // the batch is signatured and banded against it, and survivors are
    // the batch docs in no old-touching component, min-id per new-only
    // component. The corpus here is DERIVED from the doc_id column
    // (25 words w[(97·id+13j) mod 1009] per doc — both engines build
    // the identical texts), NOT the natural documents text: the
    // natural corpus's tiny vocabulary makes some distinct doc pairs
    // genuine near-dups by minhash's own measure (9 full-signature
    // collisions at sf0.01), which a fingerprint oracle cannot
    // replay. In THIS construction distinct texts share ~no shingles,
    // while doc ids 1009 apart alias to the SAME text — natural exact
    // duplicates that, with the planted clones of existing docs 0-19
    // (+10000) and of batch docs 300-309 (+20000), exercise index
    // hits, within-batch clusters, and old-touching chains, all
    // fingerprint-replayable. At threshold 0.99 a candidate pair needs
    // all 32 signature minima equal — exactly the identical-text
    // pairs. The word formula is TRILINEAR (97i + 13j + 7ij mod 1009)
    // so a 3-consecutive-word match across docs forces i ≡ i' (the
    // t-coefficient 7(i−i') must vanish mod a prime): distinct texts
    // share NO shingle, where a linear formula shares whole shifted
    // runs (tried first: 14 spurious full-signature collisions at
    // sf0.01). A bucket bug, a side-bit decode error, an inverted
    // has-old verdict, or a broken min-new pick each change the
    // survivor set and hash-fail.
    QueryDef("near_dup_incremental",
      (s, d) => {
        val mk = array_join(transform(sequence(lit(0), lit(24)),
          j => concat(lit("w"),
            ((col("doc_id") * 97 + j * 13 + col("doc_id") * j * 7) % 1009)
              .cast("string"))), " ")
        val docs = T.documents(s, d).select(col("doc_id"))
          .withColumn("text", mk)
        val existing = docs.filter(col("doc_id") < 250)
        val batch = docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") < 20)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id").between(300, 309))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        val idx = TextDedupOps.minHashSignatures(existing, "doc_id",
          "text", shingleN = 3, k = 32)
        TextDedupOps.lshIncremental(batch, idx, "doc_id", "text",
          shingleN = 3, k = 32, bands = 8, threshold = 0.99)
          .select("doc_id")
      },
      Some("""WITH corpus AS (SELECT doc_id, array_to_string(
              |    list_transform(range(0, 25),
              |      j -> 'w' || CAST((doc_id * 97 + j * 13 + doc_id * j * 7)
              |                       % 1009 AS VARCHAR)),
              |    ' ') AS text FROM documents),
              |old AS (SELECT text FROM corpus WHERE doc_id < 250),
              |newb AS (
              |  SELECT doc_id, text FROM corpus WHERE doc_id >= 250
              |  UNION ALL SELECT doc_id + 10000, text
              |  FROM corpus WHERE doc_id < 20
              |  UNION ALL SELECT doc_id + 20000, text
              |  FROM corpus WHERE doc_id BETWEEN 300 AND 309)
              |SELECT b.doc_id FROM newb b
              |WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.text = b.text)
              |  AND b.doc_id = (SELECT min(b2.doc_id) FROM newb b2
              |                  WHERE b2.text = b.text)""".stripMargin)),

    // The PERSISTED-index twin of near_dup_incremental
    // (TextDedupOps.writeLshIndex / lshIncrementalIndexed): the same
    // synthetic corpus and oracle, but the existing side round-trips
    // through the pre-banded parquet index (sigs + slim band triples)
    // the nightly 100 TB loop actually consumes — a banding drift
    // between write and read, a fold/unfold error on the stored ids,
    // or a lost index row changes the survivor set and hash-fails.
    QueryDef("near_dup_incremental_indexed",
      (s, d) => {
        val mk = array_join(transform(sequence(lit(0), lit(24)),
          j => concat(lit("w"),
            ((col("doc_id") * 97 + j * 13 + col("doc_id") * j * 7) % 1009)
              .cast("string"))), " ")
        val docs = T.documents(s, d).select(col("doc_id"))
          .withColumn("text", mk)
        val existing = docs.filter(col("doc_id") < 250)
        val batch = docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") < 20)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id").between(300, 309))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        val dir = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-llm-lshidx-${ProcessHandle.current().pid()}").toString
        TextDedupOps.writeLshIndex(
          TextDedupOps.minHashSignatures(existing, "doc_id", "text",
            shingleN = 3, k = 32),
          dir, "doc_id", bands = 8)
        TextDedupOps.lshIncrementalIndexed(batch, dir, "doc_id", "text",
          shingleN = 3, k = 32, bands = 8, threshold = 0.99)
          ._1.select("doc_id")
      },
      Some("""WITH corpus AS (SELECT doc_id, array_to_string(
              |    list_transform(range(0, 25),
              |      j -> 'w' || CAST((doc_id * 97 + j * 13 + doc_id * j * 7)
              |                       % 1009 AS VARCHAR)),
              |    ' ') AS text FROM documents),
              |old AS (SELECT text FROM corpus WHERE doc_id < 250),
              |newb AS (
              |  SELECT doc_id, text FROM corpus WHERE doc_id >= 250
              |  UNION ALL SELECT doc_id + 10000, text
              |  FROM corpus WHERE doc_id < 20
              |  UNION ALL SELECT doc_id + 20000, text
              |  FROM corpus WHERE doc_id BETWEEN 300 AND 309)
              |SELECT b.doc_id FROM newb b
              |WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.text = b.text)
              |  AND b.doc_id = (SELECT min(b2.doc_id) FROM newb b2
              |                  WHERE b2.text = b.text)""".stripMargin)),

    // EXACTLY-ONCE near-dup ingest (IngestCommit.nearDupIngestBatch,
    // r17 verdict task #1): the persisted-index loop driven through
    // the commit protocol, with the ingest KILLED at the hardest crash
    // point — after the index append, before the commit marker — and
    // replayed. The replay must (a) not match batch docs against their
    // own half-committed signatures (the survivor-vanishing hazard:
    // uncommitted stamped rows are invisible to the committed view)
    // and (b) subtract the already-visible rows before re-appending
    // (the double-append hazard that inflates bucket counts). Same
    // trilinear corpus as the incremental gates; clones of committed
    // docs planted in later batches must die against the index, a
    // within-batch clone pair resolves to the min id, and a committed
    // batch replays as a no-op skip. Oracle = one-shot survivorship:
    // min doc_id per text over the whole planted corpus.
    QueryDef("near_dup_ingest_exactly_once",
      (s, d) => {
        val mk = array_join(transform(sequence(lit(0), lit(24)),
          j => concat(lit("w"),
            ((col("doc_id") * 97 + j * 13 + col("doc_id") * j * 7) % 1009)
              .cast("string"))), " ")
        val docs = T.documents(s, d).select(col("doc_id"))
          .filter(col("doc_id") < 250).withColumn("text", mk)
        val root = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-llm-neingest-${ProcessHandle.current().pid()}").toString
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true)
        val (index, corpus) = (s"$root/index", s"$root/corpus")
        import graft.llm.{IngestCommit, TextDedupOps}
        TextDedupOps.writeLshIndex(
          TextDedupOps.minHashSignatures(docs.limit(0), "doc_id",
            "text", 3, 32), index, "doc_id", bands = 8)
        val b0 = docs.filter(col("doc_id") < 100)
        val b1 = docs.filter(col("doc_id").between(100, 199))
        val b2 = docs.filter(col("doc_id") >= 200)
          .unionByName(docs.filter(col("doc_id") < 10)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id").between(100, 104))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id") === 210)
            .select((col("doc_id") + 30000).as("doc_id"), col("text")))
        def ingest(b: DataFrame, id: Long,
            fp: String => Unit = _ => ()): Boolean =
          IngestCommit.nearDupIngestBatch(b, id, index, corpus,
            threshold = 0.99, failpoint = fp)
        ingest(b0, 0L)
        try ingest(b1, 1L,
          fp = pt => if (pt == "after-index") sys.error("kill"))
        catch { case _: RuntimeException => () }
        ingest(b1, 1L) // recovery replay
        ingest(b2, 2L)
        ingest(b2, 2L) // hwm redelivery: no-op skip
        IngestCommit.committedCorpus(s, corpus, s"$index/commits")
          .select("doc_id")
      },
      Some("""WITH corpus AS (SELECT doc_id, array_to_string(
              |    list_transform(range(0, 25),
              |      j -> 'w' || CAST((doc_id * 97 + j * 13 + doc_id * j * 7)
              |                       % 1009 AS VARCHAR)),
              |    ' ') AS text FROM documents WHERE doc_id < 250),
              |allb AS (
              |  SELECT doc_id, text FROM corpus
              |  UNION ALL SELECT doc_id + 10000, text
              |  FROM corpus WHERE doc_id < 10
              |  UNION ALL SELECT doc_id + 20000, text
              |  FROM corpus WHERE doc_id BETWEEN 100 AND 104
              |  UNION ALL SELECT doc_id + 30000, text
              |  FROM corpus WHERE doc_id = 210)
              |SELECT min(doc_id) AS doc_id FROM allb GROUP BY text"""
        .stripMargin)),

    // MAINTENANCE UNDER A LIVE INGEST STREAM (r18 verdict tasks #2 +
    // #7): compaction runs BETWEEN micro-batches of the exactly-once
    // loop — under the maintenance lease that excludes a racing
    // append — and the stream keeps ingesting afterward against the
    // compacted (stamp-folded, log-folded) layout. The middle batch
    // is additionally KILLED mid-append and replayed so recovery runs
    // against a post-compaction store, and the final compaction
    // proves serving from a twice-rewritten index. A lost append
    // (the race the lease closes), a stamp fold that breaks the
    // committed view, or a post-compaction hwm/skip drift each change
    // the survivor set and hash-fail. Oracle = the same one-shot
    // survivorship as the exactly-once gate: sequencing and
    // maintenance must be invisible to the result.
    QueryDef("near_dup_ingest_compact_live",
      (s, d) => {
        val mk = array_join(transform(sequence(lit(0), lit(24)),
          j => concat(lit("w"),
            ((col("doc_id") * 97 + j * 13 + col("doc_id") * j * 7) % 1009)
              .cast("string"))), " ")
        val docs = T.documents(s, d).select(col("doc_id"))
          .filter(col("doc_id") < 250).withColumn("text", mk)
        val root = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-llm-necompact-${ProcessHandle.current().pid()}").toString
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true)
        val (index, corpus) = (s"$root/index", s"$root/corpus")
        import graft.llm.{IngestCommit, TextDedupOps}
        TextDedupOps.writeLshIndex(
          TextDedupOps.minHashSignatures(docs.limit(0), "doc_id",
            "text", 3, 32), index, "doc_id", bands = 8)
        val b0 = docs.filter(col("doc_id") < 100)
        val b1 = docs.filter(col("doc_id").between(100, 199))
        val b2 = docs.filter(col("doc_id") >= 200)
          .unionByName(docs.filter(col("doc_id") < 10)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id").between(100, 104))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        def ingest(b: DataFrame, id: Long,
            fp: String => Unit = IngestCommit.NoFailpoint): Boolean =
          IngestCommit.nearDupIngestBatch(b, id, index, corpus,
            threshold = 0.99, failpoint = fp)
        ingest(b0, 0L)
        TextDedupOps.compactLshIndex(s, index) // between batches
        try ingest(b1, 1L,
          fp = pt => if (pt == "after-index") sys.error("kill"))
        catch { case _: RuntimeException => () }
        ingest(b1, 1L) // recovery against the compacted store
        TextDedupOps.compactLshIndex(s, index)
        ingest(b2, 2L)
        TextDedupOps.compactLshIndex(s, index)
        IngestCommit.committedCorpus(s, corpus, s"$index/commits")
          .select("doc_id")
      },
      Some("""WITH corpus AS (SELECT doc_id, array_to_string(
              |    list_transform(range(0, 25),
              |      j -> 'w' || CAST((doc_id * 97 + j * 13 + doc_id * j * 7)
              |                       % 1009 AS VARCHAR)),
              |    ' ') AS text FROM documents WHERE doc_id < 250),
              |allb AS (
              |  SELECT doc_id, text FROM corpus
              |  UNION ALL SELECT doc_id + 10000, text
              |  FROM corpus WHERE doc_id < 10
              |  UNION ALL SELECT doc_id + 20000, text
              |  FROM corpus WHERE doc_id BETWEEN 100 AND 104)
              |SELECT min(doc_id) AS doc_id FROM allb GROUP BY text"""
        .stripMargin)),

    // DELETES interleaved with the EXACTLY-ONCE ingest loop (r19 —
    // the one store-lifecycle interaction the r18 gates left unpinned:
    // near_dup_index_delete covers tombstones on the plain indexed
    // path, the ingest gates never delete): docs 0..9 are deleted
    // AFTER two committed batches, so batch 2's +10000 clones of them
    // must SURVIVE (twins tombstoned) while +20000 clones of live
    // docs die; vacuumLshIndex then folds the tombstones physically
    // BETWEEN batches (under the maintenance lease), and batch 3
    // proves the post-vacuum matching is right in BOTH directions —
    // +30000 re-clones of the deleted docs now die against their
    // +10000 replacements (ingested in batch 2), and +40000 clones of
    // live docs die as always. Oracle = closed-form committed corpus.
    QueryDef("near_dup_ingest_delete_live",
      (s, d) => {
        val mk = array_join(transform(sequence(lit(0), lit(24)),
          j => concat(lit("w"),
            ((col("doc_id") * 97 + j * 13 + col("doc_id") * j * 7) % 1009)
              .cast("string"))), " ")
        val docs = T.documents(s, d).select(col("doc_id"))
          .filter(col("doc_id") < 200).withColumn("text", mk)
        val root = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-llm-nedel-${ProcessHandle.current().pid()}").toString
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true)
        val (index, corpus) = (s"$root/index", s"$root/corpus")
        import graft.llm.{IngestCommit, TextDedupOps}
        TextDedupOps.writeLshIndex(
          TextDedupOps.minHashSignatures(docs.limit(0), "doc_id",
            "text", 3, 32), index, "doc_id", bands = 8)
        def ingest(b: DataFrame, id: Long): Boolean =
          IngestCommit.nearDupIngestBatch(b, id, index, corpus,
            threshold = 0.99)
        ingest(docs.filter(col("doc_id") < 100), 0L)
        ingest(docs.filter(col("doc_id") >= 100), 1L)
        import s.implicits._
        TextDedupOps.deleteFromLshIndex(
          s.range(10).select(col("id").as("doc_id")), index)
        val b2 = docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id").between(100, 109))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        ingest(b2, 2L)
        TextDedupOps.vacuumLshIndex(s, index) // folds tombstones
        val b3 = docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 30000).as("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id").between(110, 119))
            .select((col("doc_id") + 40000).as("doc_id"), col("text")))
        ingest(b3, 3L)
        IngestCommit.committedCorpus(s, corpus, s"$index/commits")
          .select("doc_id")
      },
      Some("""WITH corpus AS (SELECT doc_id FROM documents
             |  WHERE doc_id < 200)
             |SELECT doc_id FROM corpus
             |UNION ALL
             |SELECT doc_id + 10000 AS doc_id FROM corpus
             |WHERE doc_id < 10""".stripMargin)),

    // Corpus TAKEDOWN tier (r19 — IngestCommit.deleteFromCorpus /
    // vacuumCorpus): the compliance delete a 100 TB corpus actually
    // receives ("remove these documents"), which must not cost a
    // corpus-sized rewrite. Unlike the near-dup twin above, the
    // deleted docs leave the COMMITTED CORPUS VIEW itself — docs 0..9
    // are taken down after two committed exact-dedup batches, the
    // view is compared in-gate before and after vacuumCorpus
    // (tombstone-filtering ≡ the partition-scoped physical fold),
    // and the remaining batches prove the matching rule in both
    // directions: batch 2's +10000 copies of the deleted TEXTS are
    // admitted again (a takedown surrenders the content claim) while
    // +20000 copies of live docs die; post-vacuum batch 3's +30000
    // re-copies die against their +10000 replacements and +40000
    // copies of live docs die as always. Oracle = the closed-form
    // committed corpus: survivors of every batch minus the takedown.
    QueryDef("dedup_ingest_delete_live",
      (s, d) => {
        val docs = T.documents(s, d).select(col("doc_id"))
          .filter(col("doc_id") < 200)
          .withColumn("text", concat(lit("t"), col("doc_id")))
        val root = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-llm-cdel-${ProcessHandle.current().pid()}").toString
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true)
        import graft.llm.IngestCommit
        def ingest(b: DataFrame, id: Long): Boolean =
          IngestCommit.exactDedupIngestBatch(b, id, root)
        ingest(docs.filter(col("doc_id") < 100), 0L)
        ingest(docs.filter(col("doc_id") >= 100), 1L)
        import s.implicits._
        IngestCommit.deleteFromCorpus(
          s.range(10).select(col("id").as("doc_id")), root)
        def view(): Set[Long] =
          IngestCommit.committedCorpus(s, root, s"$root/_commits")
            .select("doc_id").as[Long].collect().toSet
        // batch 2 matches against LIVE tombstones (the anti-join path)
        val b2 = docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id").between(100, 109))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        ingest(b2, 2L)
        val viaTombstones = view()
        IngestCommit.vacuumCorpus(s, root)
        val afterVacuum = view()
        require(afterVacuum == viaTombstones,
          s"vacuum changed the committed view: " +
            s"${afterVacuum.diff(viaTombstones)} / " +
            s"${viaTombstones.diff(afterVacuum)}")
        val b3 = docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 30000).as("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id").between(110, 119))
            .select((col("doc_id") + 40000).as("doc_id"), col("text")))
        ingest(b3, 3L)
        IngestCommit.committedCorpus(s, root, s"$root/_commits")
          .select("doc_id")
      },
      Some("""WITH corpus AS (SELECT doc_id FROM documents
             |  WHERE doc_id < 200)
             |SELECT doc_id FROM corpus WHERE doc_id >= 10
             |UNION ALL
             |SELECT doc_id + 10000 AS doc_id FROM corpus
             |WHERE doc_id < 10""".stripMargin)),

    // SNAPSHOT (as-of) reads of the committed corpus
    // (IngestCommit.committedCorpusAsOf) — the reproducible-run
    // primitive: "train on the corpus exactly as batch N left it", a
    // pure partition prune at the pinned batch instead of the hwm.
    // Three batches commit; docs 0..4 are then taken down; the gate
    // reads AS OF batch 1 — batch 2's docs are invisible, and the
    // takedown still applies (a compliance delete removes the doc
    // from EVERY read; no snapshot resurrects it). vacuumCorpus runs
    // before the snapshot read to prove folds preserve batch
    // boundaries (the rewrite is per-partition, never merging).
    QueryDef("corpus_asof_snapshot",
      (s, d) => {
        val docs = T.documents(s, d).select(col("doc_id"))
          .filter(col("doc_id") < 300)
          .withColumn("text", concat(lit("t"), col("doc_id")))
        val root = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-llm-asof-${ProcessHandle.current().pid()}").toString
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true)
        import graft.llm.IngestCommit
        IngestCommit.exactDedupIngestBatch(
          docs.filter(col("doc_id") < 100), 0L, root)
        IngestCommit.exactDedupIngestBatch(
          docs.filter(col("doc_id").between(100, 199)), 1L, root)
        IngestCommit.exactDedupIngestBatch(
          docs.filter(col("doc_id") >= 200), 2L, root)
        import s.implicits._
        IngestCommit.deleteFromCorpus(
          s.range(5).select(col("id").as("doc_id")), root)
        IngestCommit.vacuumCorpus(s, root)
        IngestCommit.committedCorpusAsOf(s, root, s"$root/_commits", 1L)
          .select("doc_id")
      },
      Some("""SELECT doc_id FROM documents
             |WHERE doc_id BETWEEN 5 AND 199""".stripMargin)),

    // DELETE support for the persisted LSH index (deleteFromLshIndex /
    // vacuumLshIndex) — the curation-loop primitive: documents dropped
    // from the corpus must stop matching as near-dups while survivors
    // keep their clusters. Same synthetic corpus as the indexed gate:
    // the index holds docs 0..249, then docs 0..19 are DELETED; the
    // batch carries clones of 0..19 (+10000 — twins now dead, so they
    // must SURVIVE) and clones of 20..39 (+20000 — twins live, so they
    // must die). The incremental runs once against TOMBSTONES and once
    // after VACUUM (physical rewrite); the gate requires the two
    // survivor sets identical in-gate, pinning tombstone-filtering ≡
    // compaction. The oracle states survivorship against the post-
    // delete corpus closed-form.
    QueryDef("near_dup_index_delete",
      (s, d) => {
        val mk = array_join(transform(sequence(lit(0), lit(24)),
          j => concat(lit("w"),
            ((col("doc_id") * 97 + j * 13 + col("doc_id") * j * 7) % 1009)
              .cast("string"))), " ")
        val docs = T.documents(s, d).select(col("doc_id"))
          .withColumn("text", mk)
        val existing = docs.filter(col("doc_id") < 250)
        val batch = docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id").between(20, 39))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        val dir = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-llm-lshdel-${ProcessHandle.current().pid()}").toString
        TextDedupOps.writeLshIndex(
          TextDedupOps.minHashSignatures(existing, "doc_id", "text",
            shingleN = 3, k = 32),
          dir, "doc_id", bands = 8)
        import s.implicits._
        TextDedupOps.deleteFromLshIndex(
          s.range(20).select(col("id").as("doc_id")), dir)
        def run() = TextDedupOps.lshIncrementalIndexed(batch, dir,
          "doc_id", "text", shingleN = 3, k = 32, bands = 8,
          threshold = 0.99)._1.select("doc_id")
        val viaTombstones = run().collect().map(_.getLong(0)).toSet
        TextDedupOps.vacuumLshIndex(s, dir)
        val afterVacuum = run()
        val av = afterVacuum.collect().map(_.getLong(0)).toSet
        require(av == viaTombstones,
          s"vacuum changed survivors: tombstones=$viaTombstones " +
            s"vacuumed=$av")
        afterVacuum
      },
      Some("""WITH corpus AS (SELECT doc_id, array_to_string(
              |    list_transform(range(0, 25),
              |      j -> 'w' || CAST((doc_id * 97 + j * 13 + doc_id * j * 7)
              |                       % 1009 AS VARCHAR)),
              |    ' ') AS text FROM documents),
              |old AS (SELECT text FROM corpus
              |  WHERE doc_id BETWEEN 20 AND 249),
              |newb AS (
              |  SELECT doc_id + 10000 AS doc_id, text
              |  FROM corpus WHERE doc_id < 20
              |  UNION ALL SELECT doc_id + 20000, text
              |  FROM corpus WHERE doc_id BETWEEN 20 AND 39)
              |SELECT b.doc_id FROM newb b
              |WHERE NOT EXISTS (SELECT 1 FROM old o
              |                  WHERE o.text = b.text)""".stripMargin)),

    // Source-PRIORITY exact dedup (TextDedupOps.exactDedupBy): when
    // identical content arrives from several sources, keep the
    // highest-priority copy, not the lowest id — clones of docs 0-49
    // are planted under a 'zcurated' source that outranks every
    // natural src* under the source-desc order, so the gate proves the
    // ORDER is honored (keep-first would keep the originals). The
    // oracle replays the same md5 partition + (source DESC, doc_id)
    // rank. Same WindowGroupLimit partial plan as dedup_keep_first.
    QueryDef("dedup_keep_priority",
      (s, d) => {
        val docs = T.documents(s, d).select("doc_id", "source", "text")
        val clones = docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"),
            lit("zcurated").as("source"), col("text"))
        TextDedupOps.exactDedupBy(docs.unionByName(clones), "text",
          Seq(col("source").desc, col("doc_id").asc))
          .select("doc_id", "source")
      },
      Some("""WITH corpus AS (SELECT doc_id, source, text FROM documents
             |  UNION ALL SELECT doc_id + 10000, 'zcurated', text
             |  FROM documents WHERE doc_id < 50)
             |SELECT doc_id, source FROM (
             |  SELECT doc_id, source, row_number() OVER (
             |    PARTITION BY md5(text) ORDER BY source DESC, doc_id) AS rn
             |  FROM corpus) WHERE rn = 1""".stripMargin)),

    // Near-CONTAINMENT pairs (TextDedupOps.containmentPairs): the
    // excerpt/quote detector — planted excerpts (the first 10 words of
    // doc 1, the first 12 of doc 7) have tiny Jaccard against their
    // sources but containment 1.0 in the contained direction, which
    // the oracle replays along with every natural overlap pair over
    // the same shingle join (common/n_a, common/n_b as IEEE doubles —
    // identical integer inputs give bit-identical quotients on both
    // engines, the jaccard gate convention).
    QueryDef("ngram_containment",
      (s, d) => {
        val base = T.documents(s, d).filter(col("doc_id") < 100)
          .select("doc_id", "text")
        def excerpt(src: Long, newId: Long, n: Int) = base
          .filter(col("doc_id") === src)
          .select(lit(newId).as("doc_id"),
            array_join(slice(split(TextDedupOps.normalize(col("text")),
              " "), 1, n), " ").as("text"))
        val corpus = base
          .unionByName(excerpt(1, 900001, 10))
          .unionByName(excerpt(7, 900002, 12))
        TextDedupOps.containmentPairs(corpus, "doc_id", "text", 3)
          .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")
      },
      Some(s"""WITH docs0 AS (SELECT doc_id, ${normSql("text")} AS nt
              |  FROM documents WHERE doc_id < 100),
              |ex AS (
              |  SELECT 900001 AS doc_id, array_to_string(
              |    list_slice(string_split(nt, ' '), 1, 10), ' ') AS nt
              |  FROM docs0 WHERE doc_id = 1
              |  UNION ALL
              |  SELECT 900002, array_to_string(
              |    list_slice(string_split(nt, ' '), 1, 12), ' ')
              |  FROM docs0 WHERE doc_id = 7),
              |corpus AS (SELECT doc_id, nt FROM docs0
              |  UNION ALL SELECT doc_id, nt FROM ex),
              |t AS (SELECT doc_id, string_split(nt, ' ') AS w FROM corpus),
              |sh AS (SELECT doc_id AS id, unnest(list_distinct(
              |    list_transform(generate_series(1, greatest(len(w) - 2, 1)),
              |      i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS sh
              |  FROM t),
              |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
              |common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
              |  FROM sh a JOIN sh b USING (sh) WHERE a.id < b.id GROUP BY 1, 2)
              |SELECT id_a, id_b,
              |  CAST(common AS DOUBLE) / na.n AS cont_a_in_b,
              |  CAST(common AS DOUBLE) / nb.n AS cont_b_in_a
              |FROM common
              |JOIN sizes na ON na.id = id_a
              |JOIN sizes nb ON nb.id = id_b""".stripMargin)),

    // INCREMENTAL SimHash dedup (TextDedupOps.simHashIncremental) —
    // the banded-Hamming twin of near_dup_incremental over the SAME
    // trilinear corpus and the SAME survivorship oracle (identical
    // texts ⇒ identical simhash ⇒ hamming 0; distinct trilinear texts
    // share no shingle and their 64-bit hashes sit at Hamming ≈ 32, so
    // maxHamming = 3 pairs exactly the identical-text classes). The
    // index here is 8 bytes per existing doc — the cheapest of the
    // incremental indexes; a band-mask bug, a hamming filter
    // inversion, or a verdict error changes survivors and hash-fails.
    QueryDef("simhash_incremental",
      (s, d) => {
        val mk = array_join(transform(sequence(lit(0), lit(24)),
          j => concat(lit("w"),
            ((col("doc_id") * 97 + j * 13 + col("doc_id") * j * 7) % 1009)
              .cast("string"))), " ")
        val docs = T.documents(s, d).select(col("doc_id"))
          .withColumn("text", mk)
        val existing = docs.filter(col("doc_id") < 250)
        val batch = docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") < 20)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id").between(300, 309))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        val idx = TextDedupOps.simHash(existing, "doc_id", "text")
        TextDedupOps.simHashIncremental(batch, idx, "doc_id", "text",
          maxHamming = 3, bands = 4)
          .select("doc_id")
      },
      Some("""WITH corpus AS (SELECT doc_id, array_to_string(
              |    list_transform(range(0, 25),
              |      j -> 'w' || CAST((doc_id * 97 + j * 13 + doc_id * j * 7)
              |                       % 1009 AS VARCHAR)),
              |    ' ') AS text FROM documents),
              |old AS (SELECT text FROM corpus WHERE doc_id < 250),
              |newb AS (
              |  SELECT doc_id, text FROM corpus WHERE doc_id >= 250
              |  UNION ALL SELECT doc_id + 10000, text
              |  FROM corpus WHERE doc_id < 20
              |  UNION ALL SELECT doc_id + 20000, text
              |  FROM corpus WHERE doc_id BETWEEN 300 AND 309)
              |SELECT b.doc_id FROM newb b
              |WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.text = b.text)
              |  AND b.doc_id = (SELECT min(b2.doc_id) FROM newb b2
              |                  WHERE b2.text = b.text)""".stripMargin)),

    // EXACTLY-ONCE SimHash ingest (IngestCommit.simHashIngestBatch) —
    // the banded-Hamming member of the exactly-once family, killed at
    // BOTH crash points across the run (after the hash-index append on
    // batch 1, after the corpus publish on batch 2) and replayed, plus
    // a committed-batch skip. Same trilinear corpus and one-shot
    // survivorship oracle as simhash_incremental / the LSH ingest
    // gate: identical texts ⇒ hamming 0, distinct trilinear texts sit
    // at hamming ≈ 32, so survivors are min doc_id per text with
    // committed-corpus twins killing their clones.
    QueryDef("simhash_ingest_exactly_once",
      (s, d) => {
        val mk = array_join(transform(sequence(lit(0), lit(24)),
          j => concat(lit("w"),
            ((col("doc_id") * 97 + j * 13 + col("doc_id") * j * 7) % 1009)
              .cast("string"))), " ")
        val docs = T.documents(s, d).select(col("doc_id"))
          .filter(col("doc_id") < 250).withColumn("text", mk)
        val root = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-llm-shingest-${ProcessHandle.current().pid()}").toString
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true)
        val (hashes, corpus) = (s"$root/hashes", s"$root/corpus")
        import graft.llm.IngestCommit
        val b0 = docs.filter(col("doc_id") < 100)
        val b1 = docs.filter(col("doc_id").between(100, 199))
        val b2 = docs.filter(col("doc_id") >= 200)
          .unionByName(docs.filter(col("doc_id") < 10)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id").between(100, 104))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id") === 210)
            .select((col("doc_id") + 30000).as("doc_id"), col("text")))
        def ingest(b: DataFrame, id: Long,
            fp: String => Unit = IngestCommit.NoFailpoint): Boolean =
          IngestCommit.simHashIngestBatch(b, id, hashes, corpus,
            failpoint = fp)
        ingest(b0, 0L)
        try ingest(b1, 1L,
          fp = pt => if (pt == "after-index") sys.error("kill"))
        catch { case _: RuntimeException => () }
        ingest(b1, 1L) // recovery replay
        try ingest(b2, 2L,
          fp = pt => if (pt == "after-corpus") sys.error("kill"))
        catch { case _: RuntimeException => () }
        ingest(b2, 2L) // recovery replay
        ingest(b2, 2L) // hwm redelivery: no-op skip
        IngestCommit.committedCorpus(s, corpus, s"$hashes/_commits")
          .select("doc_id")
      },
      Some("""WITH corpus AS (SELECT doc_id, array_to_string(
              |    list_transform(range(0, 25),
              |      j -> 'w' || CAST((doc_id * 97 + j * 13 + doc_id * j * 7)
              |                       % 1009 AS VARCHAR)),
              |    ' ') AS text FROM documents WHERE doc_id < 250),
              |allb AS (
              |  SELECT doc_id, text FROM corpus
              |  UNION ALL SELECT doc_id + 10000, text
              |  FROM corpus WHERE doc_id < 10
              |  UNION ALL SELECT doc_id + 20000, text
              |  FROM corpus WHERE doc_id BETWEEN 100 AND 104
              |  UNION ALL SELECT doc_id + 30000, text
              |  FROM corpus WHERE doc_id = 210)
              |SELECT min(doc_id) AS doc_id FROM allb GROUP BY text"""
        .stripMargin)),

    // DELETE support for the persisted SimHash store (r19 —
    // deleteFromSimHashStore / compactSimHashStore, completing the
    // lifecycle asymmetry with the LSH/IVF-PQ siblings): the corpus
    // ingests through the exactly-once wrapper, docs 0..19 are then
    // DELETED from the store, and the final batch carries clones of
    // 0..19 (+10000 — twins dead, must SURVIVE) and clones of 20..39
    // (+20000 — twins live, must die). The matching view is compared
    // in-gate BEFORE and AFTER compaction (tombstone-filtering ≡
    // physical fold), the final batch ingests against the compacted
    // store, and the oracle states the committed corpus closed-form:
    // everything already ingested (deletion from the MATCHING store
    // does not remove corpus rows) plus exactly the clone survivors.
    QueryDef("simhash_index_delete",
      (s, d) => {
        val mk = array_join(transform(sequence(lit(0), lit(24)),
          j => concat(lit("w"),
            ((col("doc_id") * 97 + j * 13 + col("doc_id") * j * 7) % 1009)
              .cast("string"))), " ")
        val docs = T.documents(s, d).select(col("doc_id"))
          .filter(col("doc_id") < 250).withColumn("text", mk)
        val root = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-llm-shdel-${ProcessHandle.current().pid()}").toString
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(p, true)
        val (hashes, corpus) = (s"$root/hashes", s"$root/corpus")
        import graft.llm.{IngestCommit, TextDedupOps}
        IngestCommit.simHashIngestBatch(
          docs.filter(col("doc_id") < 100), 0L, hashes, corpus)
        IngestCommit.simHashIngestBatch(
          docs.filter(col("doc_id").between(100, 199)), 1L, hashes,
          corpus)
        IngestCommit.simHashIngestBatch(
          docs.filter(col("doc_id") >= 200), 2L, hashes, corpus)
        import s.implicits._
        TextDedupOps.deleteFromSimHashStore(
          s.range(20).select(col("id").as("doc_id")), hashes)
        val b3 = docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id").between(20, 39))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        def surv(): Set[Long] = TextDedupOps.simHashIncremental(b3,
          TextDedupOps.committedSimHashes(s, hashes), "doc_id", "text")
          .select("doc_id").as[Long].collect().toSet
        val viaTombstones = surv()
        TextDedupOps.compactSimHashStore(s, hashes)
        val afterCompact = surv()
        require(afterCompact == viaTombstones,
          s"compaction changed survivors: $viaTombstones vs " +
            s"$afterCompact")
        IngestCommit.simHashIngestBatch(b3, 3L, hashes, corpus)
        IngestCommit.committedCorpus(s, corpus, s"$hashes/_commits")
          .select("doc_id")
      },
      Some("""SELECT doc_id FROM documents WHERE doc_id < 250
             |UNION ALL
             |SELECT doc_id + 10000 AS doc_id FROM documents
             |WHERE doc_id < 20""".stripMargin)),

    // Dataset mixture: per-source deterministic hash sampling at target
    // keep-fractions (downsample src0 to 30%, keep the rest whole) —
    // the pretraining-mix step, reproducible across reprocessing.
    QueryDef("dataset_mixture",
      (s, d) => {
        import graft.operators.SampleOps
        val docs = T.documents(s, d)
        SampleOps.mixCorpora(Seq(
          docs.filter(col("source") === "src0") -> 0.3,
          docs.filter(col("source") =!= "src0") -> 1.0), "doc_id")
          .select("doc_id", "source")
      },
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':mix:0'), 1, 8)) AS BIGINT) AS h
             |  FROM documents WHERE source = 'src0') WHERE h < 1288490188
             |UNION ALL
             |SELECT doc_id, source FROM documents WHERE source <> 'src0'""".stripMargin)),

    // PII redaction: emails + phone-shaped digit runs + IPv4 addresses
    // → placeholders. The fixture text is synthetic-clean, so PII is
    // injected deterministically first (same construction in the
    // oracle) — the redaction is then verified to remove exactly what
    // was planted. r12 additions (ADVICE/verdict task 4): planted
    // FALSE-POSITIVE rows that must SURVIVE unredacted — a 5-part
    // version string and an out-of-range quad (mod 0), a decimal that a
    // digit-boundary-less phone pattern would eat (mod 1) — and a
    // back-to-back IP pair (mod 2) that only redacts fully because
    // redactPii applies the consuming-boundary pattern twice.
    QueryDef("pii_redact",
      (s, d) => {
        val extra = when(pmod(col("doc_id"), lit(4)) === 0,
            lit(" ver 1.2.3.4.5 build 10.2.3.400"))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            lit(" pi is 1234.5678 exactly"))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            lit(" peers 10.0.0.1 10.0.0.2 up"))
          .otherwise(lit(""))
        val planted = concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".0."), pmod(col("doc_id"), lit(100)).cast("string"), extra)
        T.documents(s, d).select(col("doc_id"),
          TextStatsOps.redactPii(planted).as("clean"))
      },
      Some {
        val phoneRepl = TextStatsOps.piiReplacement("PHONE", "\\")
        val ipRepl = TextStatsOps.piiReplacement("IP", "\\")
        s"""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
           |    regexp_replace(regexp_replace(
           |    text || ' contact user' || doc_id || '@example.com or 555-' ||
           |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
           |      ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
           |      '.0.' || CAST(doc_id % 100 AS VARCHAR) ||
           |      CASE CAST(doc_id % 4 AS INT)
           |        WHEN 0 THEN ' ver 1.2.3.4.5 build 10.2.3.400'
           |        WHEN 1 THEN ' pi is 1234.5678 exactly'
           |        WHEN 2 THEN ' peers 10.0.0.1 10.0.0.2 up'
           |        ELSE '' END,
           |    '${TextStatsOps.EmailRe}', '<EMAIL>', 'g'),
           |  '${TextStatsOps.PhoneRe}', '$phoneRepl', 'g'),
           |  '${TextStatsOps.PhoneRe}', '$phoneRepl', 'g'),
           |  '${TextStatsOps.IpRe}', '$ipRepl', 'g'),
           |  '${TextStatsOps.IpRe}', '$ipRepl', 'g') AS clean
           |FROM documents""".stripMargin
      }),

    // Repetition ratio (1 − distinct/total word 3-grams): the standard
    // boilerplate signal in pretraining quality filters. Row-local HOF
    // shingling — no explode, no shuffle; runs inside the scan stage.
    QueryDef("repetition_ratio",
      (s, d) => T.documents(s, d)
        .withColumn("__toks", TextStatsOps.tokens(col("text")))
        .select(col("doc_id"),
          round(TextStatsOps.repetitionRatio(col("__toks"), 3), 6).as("rep3")),
      Some(s"""WITH t AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS w
              |  FROM documents),
              |sh AS (SELECT doc_id, list_transform(
              |    generate_series(1, greatest(len(w) - 2, 1)),
              |    i -> array_to_string(list_slice(w, i, i + 2), ' ')) AS s
              |  FROM t)
              |SELECT doc_id,
              |  round(1.0 - CAST(len(list_distinct(s)) AS DOUBLE) / len(s), 6) AS rep3
              |FROM sh""".stripMargin)),

    QueryDef("token_stats",
      (s, d) => T.documents(s, d).select(col("doc_id"),
        TextStatsOps.tokenCount(col("text")).as("n_tok"),
        TextStatsOps.distinctTokenCount(col("text")).as("n_distinct"),
        TextStatsOps.distinctRatio(col("text")).as("ttr"),
        TextStatsOps.avgTokenLen(col("text")).as("avg_tok_len"),
        TextStatsOps.stopwordCount(col("text"), TextStatsOps.EN_STOPWORDS).as("stop_cnt")),
      Some(s"""WITH t AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS w,
              |  length(${normSql("text")}) AS nlen FROM documents)
              |SELECT doc_id, len(w) AS n_tok, len(list_distinct(w)) AS n_distinct,
              |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
              |  CAST(nlen - (len(w) - 1) AS DOUBLE) / len(w) AS avg_tok_len,
              |  len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS stop_cnt
              |FROM t""".stripMargin)),

    // Character-trigram language ID over 12 languages (r11 verdict task
    // 2 — retires the en/de stopword toy). The gate replaces every
    // document's text with one of 12 planted lowercase sentences (one
    // per language, by doc_id mod), then classifies with the broadcast
    // n-gram class profiles. The oracle rebuilds the SAME profile table
    // from TextStatsOps.LangProfileRows as a VALUES CTE and replays the
    // scoring by unnest + join + sum + argmax — integer arithmetic on
    // both sides, so scores AND labels hash-compare exactly. LlmSpec
    // separately asserts each planted sentence classifies to its TRUE
    // language (the quality check the oracle replay cannot provide).
    QueryDef("lang_id",
      (s, d) => {
        val planted = T.documents(s, d).select(col("doc_id"),
          element_at(typedLit(LangSamples.map(_._2)),
            pmod(col("doc_id"), lit(LangSamples.size)).cast("int") + 1)
            .as("text"))
        TextStatsOps.langId(planted, "doc_id", "text")
      },
      Some {
        val profileRows = TextStatsOps.LangProfileRows.map {
          case (l, t, w) => s"('$l', '${t.replace("'", "''")}', $w)"
        }.mkString(",\n    ")
        val sampleCases = LangSamples.zipWithIndex.map {
          case ((_, s), i) => s"    WHEN $i THEN '${s.replace("'", "''")}'"
        }.mkString("\n")
        s"""WITH profiles(lang, tri, w) AS (VALUES
           |    $profileRows),
           |docs AS (SELECT doc_id,
           |    CASE CAST(doc_id % ${LangSamples.size} AS INT)
           |$sampleCases
           |    END AS text
           |  FROM documents),
           |norm AS (SELECT doc_id,
           |    ' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' ' AS n
           |  FROM docs),
           |tris AS (SELECT doc_id, unnest(list_transform(
           |    range(1, greatest(length(n) - 2, 1) + 1),
           |    i -> substr(n, CAST(i AS INT), 3))) AS tri
           |  FROM norm),
           |sc AS (SELECT t.doc_id, p.lang, sum(p.w) AS score
           |  FROM tris t JOIN profiles p ON p.tri = t.tri
           |  GROUP BY t.doc_id, p.lang),
           |best AS (SELECT doc_id, lang, score, row_number() OVER (
           |    PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
           |  FROM sc)
           |SELECT d.doc_id, coalesce(b.lang, 'und') AS lang,
           |  CAST(coalesce(b.score, 0) AS BIGINT) AS lang_score
           |FROM docs d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
           |  ON b.doc_id = d.doc_id""".stripMargin
      }),

    QueryDef("quality_score",
      (s, d) => T.documents(s, d).select(col("doc_id"),
        TextStatsOps.qualityScore(col("text"), col("n_chars")).as("score")),
      Some(s"""WITH t AS (SELECT doc_id, n_chars,
              |  string_split(${normSql("text")}, ' ') AS w,
              |  length(${normSql("text")}) AS nlen FROM documents)
              |SELECT doc_id,
              |  0.5 * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
              |  + 0.3 * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
              |  + 0.2 * least((CAST(nlen - (len(w) - 1) AS DOUBLE) / len(w)) / 10.0, 1.0)
              |  AS score
              |FROM t""".stripMargin)),

    // Gopher quality-filter rules (Rae et al. 2021 appendix A1.1) as
    // per-rule audit booleans + the conjunction. Every rule is int/int
    // IEEE arithmetic, bit-identical across engines, so the booleans
    // face the oracle directly. Zero-shuffle scan-local plan; the spec
    // additionally plants one violator per rule and checks each flag
    // flips independently (this corpus exercises ok_words/ok_word_len/
    // ok_alpha/ok_stopwords both ways; bullet/ellipsis/symbol docs
    // don't occur naturally here, hence the planted cases).
    QueryDef("gopher_quality",
      (s, d) => {
        val flags = TextStatsOps.gopherQualityFlags(col("text"))
        val base = T.documents(s, d).select(
          col("doc_id") +: flags.map { case (n, c) => c.as(n) }: _*)
        base.withColumn("keep",
          flags.collect { case (n, _) if n.startsWith("ok_") => col(n) }
            .reduce(_ && _))
      },
      Some("""WITH t AS (SELECT doc_id, text,
             |    list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS ws,
             |    string_split(text, chr(10)) AS ls
             |  FROM documents),
             |m AS (SELECT doc_id, text, ws, ls, len(ws) AS wc,
             |    CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS mwl,
             |    length(text) - length(replace(text, '#', '')) AS hashes,
             |    (length(text) - length(replace(text, '...', ''))) / 3 AS ells
             |  FROM t),
             |f AS (SELECT doc_id, CAST(wc AS BIGINT) AS word_count,
             |    wc >= 50 AND wc <= 100000 AS ok_words,
             |    mwl >= 3.0 AND mwl <= 10.0 AS ok_word_len,
             |    CAST(hashes + ells AS DOUBLE) / wc < 0.1 AS ok_symbol_ratio,
             |    CAST(len(list_filter(ls, l -> ltrim(l) LIKE '-%'
             |      OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) AS DOUBLE)
             |      / len(ls) < 0.9 AS ok_bullets,
             |    CAST(len(list_filter(ls, l -> rtrim(l) LIKE '%...'
             |      OR rtrim(l) LIKE '%…')) AS DOUBLE)
             |      / len(ls) < 0.3 AS ok_ellipsis,
             |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
             |      / wc >= 0.8 AS ok_alpha,
             |    len(list_filter(ws, w -> list_contains(
             |      ['the','be','to','of','and','that','have','with'], lower(w)))) >= 2
             |      AS ok_stopwords
             |  FROM m)
             |SELECT *, ok_words AND ok_word_len AND ok_symbol_ratio
             |    AND ok_bullets AND ok_ellipsis AND ok_alpha AND ok_stopwords AS keep
             |FROM f""".stripMargin)),

    // C4 page cleaning (Raffel et al. 2020 §2.2): line-level retention
    // (terminal punctuation, ≥5 words, no javascript/policy phrases)
    // with document reassembly, plus the page-level lorem-ipsum /
    // curly-brace / ≥3-sentences drops as audit booleans. The natural
    // corpus is one unpunctuated line per document, so the query builds
    // a multi-line page per doc from its own words with engine-parallel
    // string ops: a kept two-sentence line, a third sentence that every
    // doc_id%3==1 page truncates below the 5-word floor (flipping
    // ok_sentences), a javascript line, an unterminated line, a policy
    // line on %3==2, and lorem-ipsum / brace tails on %7==0 / %11==0.
    // The oracle recomputes retention + reassembly + counts in DuckDB;
    // a drift in ANY line rule changes text_clean and hash-fails.
    QueryDef("c4_line_clean",
      (s, d) => {
        val ws = TextStatsOps.words(col("text"))
        def j(a: Int, len: Int) = array_join(slice(ws, a, len), " ")
        def m(k: Int) = pmod(col("doc_id"), lit(k))
        val lineB = when(m(3) === 1, concat(j(15, 3), lit("?")))
          .otherwise(concat(j(15, 6), lit("?")))
        val page = concat(
          j(1, 8), lit(". "), j(9, 6), lit("!"), lit("\n"),
          lineB, lit("\n"),
          lit("javascript "), j(2, 6), lit("."), lit("\n"),
          j(3, 7),
          when(m(3) === 2,
            lit("\nour privacy policy in full detail today.")).otherwise(lit("")),
          when(m(7) === 0, lit("\nlorem ipsum")).otherwise(lit("")),
          when(m(11) === 0, lit("\n{")).otherwise(lit("")))
        TextStatsOps.c4Clean(
          T.documents(s, d).select(col("doc_id"), page.as("text")),
          "doc_id", "text")
      },
      Some("""WITH src AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
             |  FROM documents),
             |corpus AS (SELECT doc_id,
             |    coalesce(array_to_string(list_slice(ws, 1, 8), ' '), '') || '. ' ||
             |    coalesce(array_to_string(list_slice(ws, 9, 14), ' '), '') || '!' || chr(10) ||
             |    CASE WHEN doc_id % 3 = 1
             |      THEN coalesce(array_to_string(list_slice(ws, 15, 17), ' '), '') || '?'
             |      ELSE coalesce(array_to_string(list_slice(ws, 15, 20), ' '), '') || '?' END || chr(10) ||
             |    'javascript ' || coalesce(array_to_string(list_slice(ws, 2, 7), ' '), '') || '.' || chr(10) ||
             |    coalesce(array_to_string(list_slice(ws, 3, 9), ' '), '') ||
             |    CASE WHEN doc_id % 3 = 2
             |      THEN chr(10) || 'our privacy policy in full detail today.' ELSE '' END ||
             |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum' ELSE '' END ||
             |    CASE WHEN doc_id % 11 = 0 THEN chr(10) || '{' ELSE '' END AS text
             |  FROM src),
             |c AS (SELECT doc_id, text,
             |    list_filter(string_split(text, chr(10)), l ->
             |      (rtrim(l) LIKE '%.' OR rtrim(l) LIKE '%!'
             |        OR rtrim(l) LIKE '%?' OR rtrim(l) LIKE '%"')
             |      AND len(list_filter(regexp_split_to_array(l, '\s+'), w -> w <> '')) >= 5
             |      AND NOT contains(lower(l), 'javascript')
             |      AND NOT (contains(lower(l), 'terms of use')
             |        OR contains(lower(l), 'privacy policy')
             |        OR contains(lower(l), 'cookie policy')
             |        OR contains(lower(l), 'uses cookies')
             |        OR contains(lower(l), 'use of cookies')
             |        OR contains(lower(l), 'cookie notice'))) AS kept
             |  FROM corpus),
             |k AS (SELECT doc_id, text,
             |    array_to_string(kept, chr(10)) AS text_clean,
             |    CAST(len(kept) AS BIGINT) AS n_lines_kept
             |  FROM c),
             |m AS (SELECT doc_id, text_clean, n_lines_kept,
             |    CAST(length(text_clean) - length(replace(text_clean, '.', ''))
             |      + length(text_clean) - length(replace(text_clean, '!', ''))
             |      + length(text_clean) - length(replace(text_clean, '?', ''))
             |      AS BIGINT) AS n_sentences,
             |    NOT contains(lower(text), 'lorem ipsum') AS ok_lorem,
             |    NOT contains(text, '{') AS ok_brace
             |  FROM k)
             |SELECT doc_id, text_clean, n_lines_kept, n_sentences,
             |  ok_lorem, ok_brace, n_sentences >= 3 AS ok_sentences,
             |  ok_lorem AND ok_brace AND n_sentences >= 3 AS keep
             |FROM m""".stripMargin)),

    // Gopher repetition filters (Rae et al. 2021 appendix A1.2 — the
    // companion gate to gopher_quality's A1.1): duplicate line/paragraph
    // fractions, top-{2,3,4}-gram char fraction, duplicated-{5..10}-gram
    // coverage fraction, each as an exact double plus its audit boolean.
    // The natural corpus has little repetition, so the query PLANTS it
    // with engine-parallel string ops: doc_id%5==0 duplicates every line
    // (text+\n+text), ==1 duplicates every paragraph (text+\n\n+text),
    // ==2 appends the document's first 5-gram eight times (top/dup
    // n-gram mass); the rest stay raw, pinning the all-zeros path. Every
    // fraction is an int/int IEEE division of exactly-summed character
    // masses, so doubles AND booleans hash-compare bit-exactly. The
    // DuckDB oracle recomputes all twelve metrics independently
    // (explode+window, vs the kernel's per-row n-gram tables).
    QueryDef("gopher_repetition",
      (s, d) => {
        val g5 = array_join(
          slice(TextStatsOps.words(col("text")), 1, 5), " ")
        val planted = T.documents(s, d).select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit("\n"), col("text")))
          .when(pmod(col("doc_id"), lit(5)) === 1,
            concat(col("text"), lit("\n\n"), col("text")))
          .when(pmod(col("doc_id"), lit(5)) === 2,
            concat(col("text"), lit(" "), repeat(concat(g5, lit(" ")), 8)))
          .otherwise(col("text")).as("text"))
        TextStatsOps.gopherRepetition(planted, "doc_id", "text")
      },
      Some(gopherRepOracle)),

    // Exact cross-document paragraph dedup with reassembly (the
    // RefinedWeb tier between doc-level exact dedup and substring-span
    // dedup). The corpus plants shared paragraphs: every document gets
    // a second paragraph copied from document (doc_id % 100), so each
    // planted paragraph recurs ~n/100 times corpus-wide and docs 0-99
    // carry their own text twice (exercising WITHIN-doc dedup too).
    // Only the globally-first (doc_id, pos) copy survives; documents
    // rebuild from surviving paragraphs in order. The oracle recomputes
    // the whole pipeline independently in DuckDB and compares the FULL
    // reassembled text — over- and under-removal both hash-fail.
    QueryDef("paragraph_dedup",
      (s, d) => {
        val docs = T.documents(s, d).select("doc_id", "text")
        val planted = docs.filter(col("doc_id") < 100)
          .select(col("doc_id").as("p_id"), col("text").as("p_text"))
        val corpus = docs
          .join(broadcast(planted), pmod(col("doc_id"), lit(100)) === col("p_id"))
          .select(col("doc_id"),
            concat(col("text"), lit("\n\n"), col("p_text")).as("text"))
        TextDedupOps.paragraphDedup(corpus, "doc_id", "text")
      },
      Some("""WITH corpus AS (
             |  SELECT d.doc_id, d.text || chr(10) || chr(10) || p.text AS text
             |  FROM documents d JOIN documents p ON p.doc_id = d.doc_id % 100),
             |paras AS (
             |  SELECT doc_id, unnest(arr) AS para,
             |         unnest(range(1, len(arr) + 1)) AS pos
             |  FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS arr
             |        FROM corpus)),
             |kept AS (
             |  SELECT doc_id, pos, para, row_number() OVER (
             |    PARTITION BY para ORDER BY doc_id, pos) AS rn
             |  FROM paras)
             |SELECT doc_id,
             |  string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
             |FROM kept WHERE rn = 1 GROUP BY doc_id""".stripMargin)),

    // Deterministic token-budget draw (SampleOps.sampleTokenBudget):
    // docs in md5-hash order accumulate whitespace-word counts until the
    // 10k budget fills; the oracle replays the identical hash order and
    // inclusive window cumsum in DuckDB. Over- OR under-selection by a
    // single document hash-fails (the cut document's id is part of the
    // compared set). The registry-wide WindowExec audit covers the
    // distributed cumsum (per-__pid windows, no single-partition sort).
    QueryDef("sample_token_budget",
      (s, d) => {
        import graft.operators.SampleOps
        val docs = T.documents(s, d).select(col("doc_id"),
          size(TextStatsOps.words(col("text"))).cast("long").as("n_tok"))
        SampleOps.sampleTokenBudget(docs, "doc_id", "n_tok", budget = 10000L)
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':budget'), 1, 8)) AS BIGINT) AS h
             |  FROM documents),
             |c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (
             |    ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t)
             |SELECT doc_id, n_tok FROM c WHERE cum <= 10000""".stripMargin)),

    // Data-constrained UPSAMPLING (Muennighoff et al. 2023): budget >
    // corpus ⇒ repeat — full epochs via a row-local explode plus one
    // hash-order partial epoch, epochs capped where repeated data
    // stops paying (their ~4-epoch knee). The 50k budget lands in
    // DIFFERENT regimes by SF (multiple full epochs + remainder at
    // sf0.01, partial-only at sf0.1), so both paths face the oracle,
    // which recomputes the corpus total, the epoch count, and the
    // remainder cumsum in one chain.
    QueryDef("repeat_to_budget",
      (s, d) => {
        import graft.operators.SampleOps
        val docs = T.documents(s, d).select(col("doc_id"),
          size(TextStatsOps.words(col("text"))).cast("long").as("n_tok"))
        SampleOps.repeatToBudget(docs, "doc_id", "n_tok", budget = 50000L)
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':budget'), 1, 8)) AS BIGINT) AS h
             |  FROM documents),
             |kk AS (SELECT least(50000 // T, 4) AS k, T FROM
             |  (SELECT CAST(sum(n_tok) AS BIGINT) AS T FROM t)),
             |fullep AS (SELECT doc_id, n_tok, r.e AS epoch
             |  FROM t CROSS JOIN kk JOIN range(0, 4) r(e) ON r.e < kk.k),
             |rem AS (SELECT k,
             |    CASE WHEN k >= 4 THEN 0 ELSE 50000 - k * T END AS rem
             |  FROM kk),
             |c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (
             |    ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t),
             |part AS (SELECT c.doc_id, c.n_tok, rem.k AS epoch
             |  FROM c CROSS JOIN rem
             |  WHERE rem.rem > 0 AND c.cum <= rem.rem)
             |SELECT doc_id, n_tok, epoch FROM fullep
             |UNION ALL SELECT doc_id, n_tok, epoch FROM part""".stripMargin)),

    // Token-budget draw sized by BYTE-LEVEL BPE counts — the
    // composition the byte-level tier exists for (the whitespace
    // counter under-prices punctuation/space-heavy documents, so the
    // SAME budget admits a different document set): sampleTokenBudget
    // consumes bpeTokenCountBytes as its count column, and the oracle
    // replays the full chain — GPT-2 pretokens, byte marks, the
    // recursive-CTE merge fixpoint over distinct pretokens, per-doc
    // sums, then the identical hash-order cumsum draw. A drift in
    // EITHER the counter or the draw moves the cut document and
    // hash-fails.
    QueryDef("sample_budget_bytes",
      (s, d) => {
        import graft.operators.SampleOps
        val docs = T.documents(s, d).select(col("doc_id"),
          coalesce(TextStatsOps.bpeTokenCountBytes(col("text")), lit(0L))
            .as("n_tok"))
        SampleOps.sampleTokenBudget(docs, "doc_id", "n_tok",
          budget = 10000L)
      },
      Some {
        val mergeRows = TextStatsOps
          .bpeMergePatterns(TextStatsOps.BpeDemoMerges).zipWithIndex
          .map { case ((pat, rep), i) => s"(${i + 1}, '$pat', '$rep')" }
          .mkString(",\n    ")
        val reSql = "'" + TextStatsOps.Gpt2PretokenRe.replace("'", "''") + "'"
        s"""WITH RECURSIVE merges(rank, pat, rep) AS (VALUES
           |    $mergeRows),
           |tt AS (SELECT doc_id,
           |    regexp_extract_all(text, $reSql, 0) AS ws FROM documents),
           |wi0 AS (SELECT doc_id, unnest(ws) AS tok FROM tt),
           |wi AS (SELECT doc_id, translate(tok,
           |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13),
           |      chr(288) || chr(265) || chr(266) || chr(267) || chr(268)
           |        || chr(269)) AS word FROM wi0),
           |uw AS (SELECT DISTINCT word FROM wi),
           |init AS (SELECT word, ' ' || array_to_string(
           |    list_transform(range(1, length(word) + 1),
           |      i -> substr(word, CAST(i AS INT), 1)), ' ') || ' ' AS state
           |  FROM uw),
           |rec AS (
           |  SELECT word, state FROM init
           |  UNION ALL
           |  SELECT x.word, replace(x.state, m.pat, m.rep)
           |  FROM (SELECT r.word, r.state,
           |      (SELECT min(m2.rank) FROM merges m2
           |       WHERE contains(r.state, m2.pat)) AS br
           |    FROM rec r) x
           |  JOIN merges m ON m.rank = x.br),
           |fin AS (SELECT word,
           |    CAST(len(string_split(trim(state, ' '), ' ')) AS BIGINT) AS n
           |  FROM rec r
           |  WHERE NOT EXISTS (SELECT 1 FROM merges m
           |                    WHERE contains(r.state, m.pat))),
           |cnts AS (SELECT wi.doc_id, CAST(sum(f.n) AS BIGINT) AS nb
           |  FROM wi JOIN fin f USING (word) GROUP BY wi.doc_id),
           |t AS (SELECT d.doc_id, CAST(coalesce(c.nb, 0) AS BIGINT) AS n_tok,
           |    CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)
           |      || ':budget'), 1, 8)) AS BIGINT) AS h
           |  FROM documents d LEFT JOIN cnts c ON c.doc_id = d.doc_id),
           |c2 AS (SELECT doc_id, n_tok, sum(n_tok) OVER (
           |    ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t)
           |SELECT doc_id, n_tok FROM c2 WHERE cum <= 10000""".stripMargin
      }),

    // END-TO-END curation pipeline gate: quality-classifier filter →
    // exact dedup (keep-first) → deterministic token-budget draw, the
    // minimal real corpus-construction chain, ORACLE-CHECKED AS A
    // WHOLE — stage boundaries are where pipelines actually break
    // (filter semantics feeding dedup's keep choice feeding the draw's
    // hash order), and the per-stage gates can't see a composition bug.
    // The oracle replays all three stages in one CTE chain; the drawn
    // id set shifts if ANY stage drifts.
    QueryDef("curation_pipeline_draw",
      (s, d) => {
        import graft.operators.SampleOps
        val w = TextStatsOps.demoClassifierWeights()
        val docs = T.documents(s, d).select(col("doc_id"), col("text"))
        val kept = docs.filter(
          TextStatsOps.hashedClassifierLogit(col("text"), w) > 0)
        val deduped = TextDedupOps.exactDedup(kept, "text", "doc_id")
        val counted = deduped.select(col("doc_id"),
          size(TextStatsOps.words(col("text"))).cast("long").as("n_tok"))
        SampleOps.sampleTokenBudget(counted, "doc_id", "n_tok",
          budget = 5000L)
      },
      Some("""WITH wt AS (SELECT i, (i * 2654435761) % 1000 - 500 AS w
             |  FROM range(0, 64) t(i)),
             |wl AS (SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS word
             |  FROM documents),
             |f AS (SELECT doc_id,
             |    CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) % 64 AS b
             |  FROM wl),
             |sc AS (SELECT f.doc_id, CAST(sum(wt.w) AS BIGINT) AS logit
             |  FROM f JOIN wt ON wt.i = f.b GROUP BY f.doc_id),
             |kept AS (SELECT d.doc_id, d.text FROM documents d
             |  JOIN sc ON sc.doc_id = d.doc_id WHERE sc.logit > 0),
             |ded AS (SELECT doc_id, text FROM (
             |  SELECT doc_id, text, row_number() OVER (
             |    PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |  FROM kept) WHERE rn = 1),
             |t AS (SELECT doc_id,
             |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':budget'), 1, 8)) AS BIGINT) AS h
             |  FROM ded),
             |c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (
             |    ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t)
             |SELECT doc_id, n_tok FROM c WHERE cum <= 5000""".stripMargin)),

    // Sequence packing (the step AFTER the corpus draw: concatenate
    // docs in deterministic hash order, cut into fixed 128-token
    // training windows; SampleOps.packSequences). The oracle replays
    // the whole pipeline — hash order, window cumsum, per-doc window
    // range via generate_series, and the fragment arithmetic — in
    // DuckDB; any cumsum, rounding, or boundary bug (off-by-one at a
    // window edge, a lost final partial window, a duplicated fragment)
    // changes a row and hash-fails. All-integer output, no tolerance.
    // NO-SPLIT padded packing (the SFT/encoder tier next to
    // pack_sequences' GPT-style boundary-crossing tiling): documents
    // round up to power-of-two slot classes, each 256-token sequence
    // holds 256/slot same-slot documents, pad = slot − n_tok. The
    // fixture's 10..100-word docs spread over slot classes 16..128, so
    // the oracle's CASE chain, the per-class hash-order row_number,
    // and the exact integer div/mod window arithmetic all face real
    // variety at both SFs.
    QueryDef("pack_padded_length",
      (s, d) => {
        import graft.operators.SampleOps
        val docs = T.documents(s, d).select(col("doc_id"),
          size(TextStatsOps.words(col("text"))).cast("long").as("n_tok"))
        SampleOps.packPaddedByLength(docs, "doc_id", "n_tok",
          seqLen = 256L)
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8)) AS BIGINT) AS h
             |  FROM documents),
             |s AS (SELECT doc_id, n_tok, h,
             |    CASE WHEN n_tok <= 1 THEN 1 WHEN n_tok <= 2 THEN 2
             |      WHEN n_tok <= 4 THEN 4 WHEN n_tok <= 8 THEN 8
             |      WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
             |      WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
             |      ELSE 256 END AS slot
             |  FROM t WHERE n_tok > 0),
             |r AS (SELECT doc_id, n_tok, slot, row_number() OVER (
             |    PARTITION BY slot ORDER BY h, doc_id) AS rn FROM s)
             |SELECT doc_id, n_tok, CAST(slot AS BIGINT) AS slot,
             |  CAST((rn - 1) // (256 // slot) AS BIGINT) AS seq_id,
             |  CAST((rn - 1) % (256 // slot) AS BIGINT) AS seq_pos,
             |  CAST(slot - n_tok AS BIGINT) AS pad
             |FROM r""".stripMargin)),

    QueryDef("pack_sequences",
      (s, d) => {
        import graft.operators.SampleOps
        val docs = T.documents(s, d).select(col("doc_id"),
          size(TextStatsOps.words(col("text"))).cast("long").as("n_tok"))
        SampleOps.packSequences(docs, "doc_id", "n_tok", seqLen = 128L)
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8)) AS BIGINT) AS h
             |  FROM documents),
             |c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (
             |    ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM t WHERE n_tok > 0),
             |s AS (SELECT doc_id, n_tok, CAST(cum - n_tok AS BIGINT) AS st,
             |    CAST(cum AS BIGINT) AS en FROM c),
             |e AS (SELECT doc_id, n_tok, st,
             |    unnest(generate_series(st // 128, (en - 1) // 128)) AS seq_id
             |  FROM s)
             |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
             |  CAST(GREATEST(0, seq_id * 128 - st) AS BIGINT) AS frag_start,
             |  CAST(LEAST(n_tok, (seq_id + 1) * 128 - st)
             |       - GREATEST(0, seq_id * 128 - st) AS BIGINT) AS frag_len,
             |  CAST(GREATEST(0, st - seq_id * 128) AS BIGINT) AS seq_off
             |FROM e""".stripMargin)),

    // REAL merge-table BPE (r11 verdict task 3 — retires the length/4
    // proxy as the gate algorithm): per word, iteratively apply the
    // lowest-rank adjacent-pair merge until fixpoint (the GPT-2-family
    // loop; TextStatsOps.bpeTokenCount, a udf over the rank-table
    // kernel), demo merge table shared from TextStatsOps.BpeDemoMerges.
    // The oracle replays the loop in its replace form
    // (TextStatsOps.bpeMergePatterns) in a recursive CTE over the
    // DISTINCT word set: state = space-joined symbols, one step =
    // replace() of the best-rank pattern (exact-string, non-overlapping,
    // left-to-right), finished words are those where no pattern
    // applies; per-doc counts re-join word multiplicities (the demo
    // table reaches the kernel's symbols this way — see
    // bpeMergeRanked's one exception). LlmSpec pins known word→count
    // vectors including a merge whose result feeds an earlier rule.
    QueryDef("bpe_token_count",
      (s, d) => T.documents(s, d).select(col("doc_id"),
        TextStatsOps.bpeTokenCount(col("text")).as("n_bpe")),
      Some {
        val mergeRows = TextStatsOps
          .bpeMergePatterns(TextStatsOps.BpeDemoMerges).zipWithIndex
          .map { case ((pat, rep), i) => s"(${i + 1}, '$pat', '$rep')" }
          .mkString(",\n    ")
        s"""WITH RECURSIVE merges(rank, pat, rep) AS (VALUES
           |    $mergeRows),
           |wl AS (SELECT doc_id,
           |    unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS word
           |  FROM documents),
           |uw AS (SELECT DISTINCT word FROM wl),
           |init AS (SELECT word, ' ' || array_to_string(
           |    list_transform(range(1, length(word) + 1),
           |      i -> substr(word, CAST(i AS INT), 1)), ' ') || ' ' AS state
           |  FROM uw),
           |rec AS (
           |  SELECT word, state FROM init
           |  UNION ALL
           |  SELECT x.word, replace(x.state, m.pat, m.rep)
           |  FROM (SELECT r.word, r.state,
           |      (SELECT min(m2.rank) FROM merges m2
           |       WHERE contains(r.state, m2.pat)) AS br
           |    FROM rec r) x
           |  JOIN merges m ON m.rank = x.br),
           |fin AS (SELECT word, state FROM rec r
           |  WHERE NOT EXISTS (SELECT 1 FROM merges m
           |                    WHERE contains(r.state, m.pat))),
           |cnt AS (SELECT word,
           |    CAST(len(string_split(trim(state), ' ')) AS BIGINT) AS n
           |  FROM fin)
           |SELECT d.doc_id, CAST(coalesce(s.n_bpe, 0) AS BIGINT) AS n_bpe
           |FROM documents d
           |LEFT JOIN (SELECT wl.doc_id, CAST(sum(c.n) AS BIGINT) AS n_bpe
           |           FROM wl JOIN cnt c USING (word)
           |           GROUP BY wl.doc_id) s ON s.doc_id = d.doc_id""".stripMargin
      }),

    // C4 bad-word page filter (Raffel et al. 2020 §2.2's blocklist
    // step, previously the c4Clean scaladoc's documented out-of-scope
    // item — the operator takes the CALLER's list; the gate uses a
    // neutral demo list from the corpus vocabulary): exact
    // word-boundary counting, with "merge batch" exercising the
    // consecutive-word phrase path next to two unigram terms. The
    // oracle replays unigram membership + bigram-run equality over the
    // same lowercased split.
    QueryDef("bad_word_filter",
      (s, d) => T.documents(s, d).select(col("doc_id"),
          TextStatsOps.badWordHits(col("text"),
            Seq("slow", "big", "merge batch")).as("bad_hits"))
        .withColumn("keep", col("bad_hits") === 0),
      Some("""WITH wl AS (SELECT doc_id,
             |    list_transform(list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> ''), w -> lower(w)) AS w
             |  FROM documents),
             |h AS (SELECT doc_id,
             |    len(list_filter(w, x -> x IN ('slow', 'big'))) +
             |    len(list_filter(list_transform(range(1, len(w)), i ->
             |        array_to_string(list_slice(w, i, i + 1), ' ')),
             |      s -> s = 'merge batch')) AS bad_hits
             |  FROM wl)
             |SELECT doc_id, CAST(bad_hits AS BIGINT) AS bad_hits,
             |  bad_hits = 0 AS keep
             |FROM h""".stripMargin)),

    // Tokenizer FERTILITY report (tokens-per-word by language — the
    // tokenizer-eval metric that drives vocab sizing: a language whose
    // fertility runs high is being shredded into sub-word confetti and
    // needs vocabulary coverage). Emitted as the exact integer PAIR
    // (n_bpe, n_words) per language rather than the ratio, so the gate
    // stays division-free and hash-exact; the byte-level counter
    // composes identically (sample_budget_bytes pins that tier). One
    // map-side-combined aggregation over scan-local counts. The oracle
    // reuses the bpe_token_count recursive-CTE fixpoint over distinct
    // words, regrouped by the table's lang column.
    QueryDef("tokenizer_fertility",
      (s, d) => T.documents(s, d).groupBy("lang").agg(
        sum(size(TextStatsOps.words(col("text"))).cast("long"))
          .as("n_words"),
        sum(TextStatsOps.bpeTokenCount(col("text"))).as("n_bpe"),
        count(lit(1)).as("n_docs")),
      Some {
        val mergeRows = TextStatsOps
          .bpeMergePatterns(TextStatsOps.BpeDemoMerges).zipWithIndex
          .map { case ((pat, rep), i) => s"(${i + 1}, '$pat', '$rep')" }
          .mkString(",\n    ")
        s"""WITH RECURSIVE merges(rank, pat, rep) AS (VALUES
           |    $mergeRows),
           |wl AS (SELECT doc_id,
           |    unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS word
           |  FROM documents),
           |uw AS (SELECT DISTINCT word FROM wl),
           |init AS (SELECT word, ' ' || array_to_string(
           |    list_transform(range(1, length(word) + 1),
           |      i -> substr(word, CAST(i AS INT), 1)), ' ') || ' ' AS state
           |  FROM uw),
           |rec AS (
           |  SELECT word, state FROM init
           |  UNION ALL
           |  SELECT x.word, replace(x.state, m.pat, m.rep)
           |  FROM (SELECT r.word, r.state,
           |      (SELECT min(m2.rank) FROM merges m2
           |       WHERE contains(r.state, m2.pat)) AS br
           |    FROM rec r) x
           |  JOIN merges m ON m.rank = x.br),
           |fin AS (SELECT word, state FROM rec r
           |  WHERE NOT EXISTS (SELECT 1 FROM merges m
           |                    WHERE contains(r.state, m.pat))),
           |cnt AS (SELECT word,
           |    CAST(len(string_split(trim(state), ' ')) AS BIGINT) AS n
           |  FROM fin),
           |per_doc AS (SELECT wl.doc_id, CAST(sum(c.n) AS BIGINT) AS n_bpe
           |  FROM wl JOIN cnt c USING (word) GROUP BY wl.doc_id)
           |SELECT d.lang,
           |  CAST(sum(len(list_filter(regexp_split_to_array(d.text, '\\s+'), x -> x <> ''))) AS BIGINT) AS n_words,
           |  CAST(sum(coalesce(p.n_bpe, 0)) AS BIGINT) AS n_bpe,
           |  CAST(count(*) AS BIGINT) AS n_docs
           |FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
           |GROUP BY d.lang""".stripMargin
      }),

    // REAL BPE token-ID ENCODING (extends bpe_token_count from budget
    // to artifact): one row per surviving symbol with 0-based word and
    // symbol positions and the deterministic vocabulary id (codepoint
    // for single chars, 256+rank for merge results — closed by
    // construction, no unk to hide behind). The oracle reuses the
    // recursive-CTE fixpoint over the distinct word set, unnests the
    // final symbol lists with positions, and re-joins per-document word
    // occurrences — so a wrong merge order, a lost symbol, a shifted
    // position, or a vocabulary drift each change rows and hash-fail.
    QueryDef("bpe_encode",
      (s, d) => TextStatsOps.bpeEncodeTokens(
        T.documents(s, d), "doc_id", "text"),
      Some {
        val mergeRows = TextStatsOps
          .bpeMergePatterns(TextStatsOps.BpeDemoMerges).zipWithIndex
          .map { case ((pat, rep), i) => s"(${i + 1}, '$pat', '$rep')" }
          .mkString(",\n    ")
        val vocabRows = TextStatsOps.bpeVocab().toSeq.sortBy(_._2)
          .map { case (tok, tid) => s"('$tok', $tid)" }.mkString(",\n    ")
        s"""WITH RECURSIVE merges(rank, pat, rep) AS (VALUES
           |    $mergeRows),
           |vocab(tok, tid) AS (VALUES
           |    $vocabRows),
           |t AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws
           |  FROM documents),
           |wi AS (SELECT doc_id, ws,
           |    unnest(generate_series(0, len(ws) - 1)) AS word_idx FROM t),
           |wr AS (SELECT doc_id, CAST(word_idx AS INTEGER) AS word_idx,
           |    ws[word_idx + 1] AS word FROM wi),
           |uw AS (SELECT DISTINCT word FROM wr),
           |init AS (SELECT word, ' ' || array_to_string(
           |    list_transform(range(1, length(word) + 1),
           |      i -> substr(word, CAST(i AS INT), 1)), ' ') || ' ' AS state
           |  FROM uw),
           |rec AS (
           |  SELECT word, state FROM init
           |  UNION ALL
           |  SELECT x.word, replace(x.state, m.pat, m.rep)
           |  FROM (SELECT r.word, r.state,
           |      (SELECT min(m2.rank) FROM merges m2
           |       WHERE contains(r.state, m2.pat)) AS br
           |    FROM rec r) x
           |  JOIN merges m ON m.rank = x.br),
           |fin AS (SELECT word, string_split(trim(state), ' ') AS syms
           |  FROM rec r
           |  WHERE NOT EXISTS (SELECT 1 FROM merges m
           |                    WHERE contains(r.state, m.pat))),
           |fe AS (SELECT word, syms,
           |    unnest(generate_series(0, len(syms) - 1)) AS sym_idx FROM fin),
           |ft AS (SELECT word, CAST(sym_idx AS INTEGER) AS sym_idx,
           |    syms[sym_idx + 1] AS token FROM fe)
           |SELECT w.doc_id, w.word_idx, f.sym_idx, f.token,
           |  CAST(CASE WHEN length(f.token) = 1 THEN ascii(f.token)
           |       ELSE v.tid END AS INTEGER) AS token_id
           |FROM wr w JOIN ft f USING (word)
           |LEFT JOIN vocab v ON v.tok = f.token""".stripMargin
      }),

    // BYTE-LEVEL BPE encoding (r12 verdict task #4 — the
    // whitespace-word tier above mis-sizes punctuation-adjacent text:
    // "it's" is ONE whitespace word but THREE pretokens, and " world"
    // with its attached leading space is a different token than
    // "world"): GPT-2 pretokenizer regex + Ġ/ĉ/Ċ byte-marking in
    // front of the same merge fixpoint. The corpus (pure ASCII
    // letters+spaces) is augmented with planted contraction/
    // punctuation/multi-space rows so the pretokenizer paths the
    // corpus never exercises are pinned; the oracle replays the SAME
    // regex in RE2 via regexp_extract_all, the SAME byte-marking via
    // chr(), and the SAME recursive-CTE fixpoint over DISTINCT
    // pretokens — a pretokenizer drift, a lost space prefix, or a
    // whitespace-symbol collision each hash-fail. The differential
    // whitespace-vs-byte pin (counts MUST disagree on the planted
    // rows) lives in LlmSpec.
    QueryDef("bpe_byte_encode",
      (s, d) => {
        import s.implicits._
        val planted = Seq(
          (900001L, "it's the-end. don't stop!"),
          (900002L, "she'll they've we're i'm you'd can't say so"),
          (900003L, "x42,y7 (a-b) [c] 3.14 100x"),
          (900004L, "  double  spaced  and trailing ")
        ).toDF("doc_id", "text")
        TextStatsOps.bpeEncodeTokensBytes(
          T.documents(s, d).select("doc_id", "text").unionByName(planted),
          "doc_id", "text")
      },
      Some {
        val mergeRows = TextStatsOps
          .bpeMergePatterns(TextStatsOps.BpeDemoMerges).zipWithIndex
          .map { case ((pat, rep), i) => s"(${i + 1}, '$pat', '$rep')" }
          .mkString(",\n    ")
        val vocabRows = TextStatsOps.bpeVocab().toSeq.sortBy(_._2)
          .map { case (tok, tid) => s"('$tok', $tid)" }.mkString(",\n    ")
        val reSql = "'" + TextStatsOps.Gpt2PretokenRe.replace("'", "''") + "'"
        s"""WITH RECURSIVE merges(rank, pat, rep) AS (VALUES
           |    $mergeRows),
           |vocab(tok, tid) AS (VALUES
           |    $vocabRows),
           |corpus AS (SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES
           |    (900001, 'it''s the-end. don''t stop!'),
           |    (900002, 'she''ll they''ve we''re i''m you''d can''t say so'),
           |    (900003, 'x42,y7 (a-b) [c] 3.14 100x'),
           |    (900004, '  double  spaced  and trailing ')) v(doc_id, text)),
           |t AS (SELECT doc_id,
           |    regexp_extract_all(text, $reSql, 0) AS ws
           |  FROM corpus),
           |wi AS (SELECT doc_id, ws,
           |    unnest(generate_series(0, len(ws) - 1)) AS tok_idx FROM t),
           |wr AS (SELECT doc_id, CAST(tok_idx AS INTEGER) AS tok_idx,
           |    translate(ws[tok_idx + 1],
           |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13),
           |      chr(288) || chr(265) || chr(266) || chr(267) || chr(268)
           |        || chr(269)) AS word FROM wi),
           |uw AS (SELECT DISTINCT word FROM wr),
           |init AS (SELECT word, ' ' || array_to_string(
           |    list_transform(range(1, length(word) + 1),
           |      i -> substr(word, CAST(i AS INT), 1)), ' ') || ' ' AS state
           |  FROM uw),
           |rec AS (
           |  SELECT word, state FROM init
           |  UNION ALL
           |  SELECT x.word, replace(x.state, m.pat, m.rep)
           |  FROM (SELECT r.word, r.state,
           |      (SELECT min(m2.rank) FROM merges m2
           |       WHERE contains(r.state, m2.pat)) AS br
           |    FROM rec r) x
           |  JOIN merges m ON m.rank = x.br),
           |fin AS (SELECT word, string_split(trim(state, ' '), ' ') AS syms
           |  FROM rec r
           |  WHERE NOT EXISTS (SELECT 1 FROM merges m
           |                    WHERE contains(r.state, m.pat))),
           |fe AS (SELECT word, syms,
           |    unnest(generate_series(0, len(syms) - 1)) AS sym_idx FROM fin),
           |ft AS (SELECT word, CAST(sym_idx AS INTEGER) AS sym_idx,
           |    syms[sym_idx + 1] AS token FROM fe)
           |SELECT w.doc_id, w.tok_idx, f.sym_idx, f.token,
           |  CAST(CASE WHEN length(f.token) = 1 THEN ascii(f.token)
           |       ELSE v.tid END AS INTEGER) AS token_id
           |FROM wr w JOIN ft f USING (word)
           |LEFT JOIN vocab v ON v.tok = f.token""".stripMargin
      }),

    // BPE TRAINING end-to-end (TextStatsOps.bpeTrainMerges → encode
    // with the TRAINED table): the corpus is the constant sentence
    // "the cat ate the thee cat" per document, whose merge sequence is
    // HAND-DERIVABLE and scale-invariant (uniform doc frequencies
    // cancel): pair counts (t,h)=3 (h,e)=3 (a,t)=3 (c,a)=2 (a|t,e)=1
    // (e,e)=1 per doc, ties broken by pair string asc, give exactly
    //   1:(a,t) 2:(h,e) 3:(t,he) 4:(c,at) 5:(at,e) 6:(the,e)
    // after which every word is ONE symbol: the=258 cat=259 ate=260
    // thee=261 under the 256+rank vocabulary. The oracle states that
    // final encoding closed-form — ANY deviation in the training loop
    // (count weighting, tie order, overlapping-pair handling, replace
    // semantics) shifts the merge order, which shifts the vocabulary
    // ids or the symbol rows, and hash-fails. LlmSpec additionally
    // pins the trained table itself against the hand derivation.
    QueryDef("bpe_train_encode",
      (s, d) => {
        val corpus = T.documents(s, d).select(col("doc_id"))
          .withColumn("text", lit("the cat ate the thee cat"))
        val trained = TextStatsOps.bpeTrainMerges(corpus, "text",
          numMerges = 6)
        TextStatsOps.bpeEncodeTokens(corpus, "doc_id", "text",
          merges = trained)
      },
      Some("""SELECT doc_id, CAST(v.word_idx AS INTEGER) AS word_idx,
             |  CAST(0 AS INTEGER) AS sym_idx, v.token,
             |  CAST(v.token_id AS INTEGER) AS token_id
             |FROM documents CROSS JOIN (VALUES
             |  (0, 'the', 258), (1, 'cat', 259), (2, 'ate', 260),
             |  (3, 'the', 258), (4, 'thee', 261), (5, 'cat', 259))
             |  v(word_idx, token, token_id)""".stripMargin)),

    // RANK-TABLE BPE encoder (TextStatsOps.bpeEncodeRanked — the
    // GPT-2/tiktoken-family kernel over a broadcast merge-rank map,
    // with caller-supplied ids, here the demo bpeVocab) run on the
    // SAME corpus + planted pretokenizer rows as bpe_byte_encode and
    // differentially checked against the SAME independent DuckDB
    // recursive-CTE fixpoint: a rank-priority bug, a wrong L2R merge,
    // a pretokenizer or byte-marking drift, or an id drift each
    // hash-fail. TokenizerKernelSpec additionally pins the kernel
    // in-engine against the test-scope replace-fixpoint reference on
    // both the byte-level and whitespace paths.
    QueryDef("bpe_rank_encode",
      (s, d) => {
        import s.implicits._
        val planted = Seq(
          (900001L, "it's the-end. don't stop!"),
          (900002L, "she'll they've we're i'm you'd can't say so"),
          (900003L, "x42,y7 (a-b) [c] 3.14 100x"),
          (900004L, "  double  spaced  and trailing ")
        ).toDF("doc_id", "text")
        TextStatsOps.bpeEncodeRanked(
          T.documents(s, d).select("doc_id", "text").unionByName(planted),
          "doc_id", "text", TextStatsOps.BpeDemoMerges,
          TextStatsOps.bpeVocab())
      },
      Some(bpeByteFixpointOracle(
        vocabRows = TextStatsOps.bpeVocab().toSeq.sortBy(_._2)
          .map { case (tok, tid) => s"('$tok', $tid)" }.mkString(",\n    "),
        corpusSql = """SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT * FROM (VALUES
          |    (900001, 'it''s the-end. don''t stop!'),
          |    (900002, 'she''ll they''ve we''re i''m you''d can''t say so'),
          |    (900003, 'x42,y7 (a-b) [c] 3.14 100x'),
          |    (900004, '  double  spaced  and trailing ')) v(doc_id, text)"""
          .stripMargin,
        plantedValues = None))),

    // BYTE-FALLBACK id mode (bpeEncodeRanked byteFallback = true) —
    // the production byte-level vocab convention where every token
    // decomposes to the 256-byte base alphabet and no unk is possible:
    // single-cp symbols price from the vocab; on a miss a byte-marker
    // cp (256+b) emits its real byte id, a 1-byte cp its byte value,
    // and a multi-byte cp (here an OUTSIDE-VOCAB emoji) expands to one
    // row per UTF-8 byte as <0xNN>. Planted 3-string corpus, every
    // encoding hand-derived:
    //   hi😀  → [hi(502)] + 😀 → <0xF0>240 <0x9F>159 <0x98>152 <0x80>128
    //   hi x  → [hi(502)] + [Ġ(32 — marker 288−256), x(120)]
    //   ii    → [i(501), i(501)]  (no (i,i) merge rule)
    //   āi    → ā (U+0101 — Latin Extended, INSIDE [256,512) but NOT
    //            a marker: must fall through to its real UTF-8 bytes
    //            <0xC4>196 <0x81>129, never unmark to byte 1) + i(501)
    //   ča u  → genuine 'č' (U+010D — a REAL Czech letter that is ALSO
    //            the \r marker cp): pre-escaped to its UTF-8 bytes
    //            <0xC4>196 <0x8D>141 BEFORE marking (the r17 marker-
    //            collision fix — "unmark on miss" alone would price it
    //            as byte 13 = CR, silently corrupting Czech/Croatian/
    //            Slovak text), then a(97); " u" marks to [Ġ(32), u(117)]
    //            — a marker cp arising from REAL whitespace still
    //            unmarks to its byte.
    // A raw-codepoint fallback (the demo convention) would emit
    // 128512 for the emoji and 288 for Ġ and hash-fail; a blanket
    // [256,512)→cp−256 "unmark" would emit 1 for ā and hash-fail;
    // an unescaped genuine č would emit 13 and hash-fail.
    QueryDef("bpe_byte_fallback", {
      val merges = Seq(("h", "i"))
      val vocab = Map("hi" -> 502, "h" -> 500, "i" -> 501)
      val wl = Seq("hi😀", "hi x", "ii", "āi", "ča u")
      (s, d) => {
        val wlit = typedLit(wl)
        val docs = T.documents(s, d).select(col("doc_id"),
          element_at(wlit, pmod(col("doc_id"), lit(5)).cast("int") + 1)
            .as("text"))
        TextStatsOps.bpeEncodeRanked(docs, "doc_id", "text", merges,
          vocab, byteLevel = true, byteFallback = true)
      }
    },
      Some("""WITH seg AS (SELECT i, ti, si, tok, tid FROM (VALUES
             |    (0, 0, 0, 'hi', 502),
             |    (0, 1, 0, '<0xF0>', 240), (0, 1, 1, '<0x9F>', 159),
             |    (0, 1, 2, '<0x98>', 152), (0, 1, 3, '<0x80>', 128),
             |    (1, 0, 0, 'hi', 502),
             |    (1, 1, 0, chr(288), 32), (1, 1, 1, 'x', 120),
             |    (2, 0, 0, 'i', 501), (2, 0, 1, 'i', 501),
             |    (3, 0, 0, '<0xC4>', 196), (3, 0, 1, '<0x81>', 129),
             |    (3, 0, 2, 'i', 501),
             |    (4, 0, 0, '<0xC4>', 196), (4, 0, 1, '<0x8D>', 141),
             |    (4, 0, 2, 'a', 97),
             |    (4, 1, 0, chr(288), 32), (4, 1, 1, 'u', 117))
             |    t(i, ti, si, tok, tid))
             |SELECT d.doc_id, CAST(s.ti AS INTEGER) AS tok_idx,
             |  CAST(s.si AS INTEGER) AS sym_idx, s.tok AS token,
             |  CAST(s.tid AS INTEGER) AS token_id
             |FROM documents d JOIN seg s ON s.i = d.doc_id % 5""".stripMargin)),

    // DECODE round-trip over the WHOLE corpus (bpeDecodeRanked — the
    // inspection path every pipeline runs on stored token ids, and
    // the proof the byte-fallback encoding is FAITHFUL): every
    // document encodes with byteFallback=true (demo merges + vocab —
    // most symbols miss the vocab and ride the byte alphabet) and
    // decodes back from the ids alone; the oracle is the documents
    // table ITSELF. Whitespace runs, planted unicode (emoji, the
    // genuine marker letter č, tabs) — everything must reconstruct
    // byte-exactly; any marker/byte/merge asymmetry between encoder
    // and decoder fails on real data, not a toy.
    QueryDef("bpe_decode_roundtrip",
      (s, d) => {
        import s.implicits._
        val planted = Seq(
          (920001L, "čau světe\tmixed  spaces"),
          (920002L, "emoji 😀 and Ġ genuine marker"),
          (920003L, "line\nbreak and trailing ")
        ).toDF("doc_id", "text")
        val docs = T.documents(s, d).select("doc_id", "text")
          .filter(col("text").isNotNull && col("text") =!= "")
          .unionByName(planted)
        val enc = TextStatsOps.bpeEncodeRanked(docs, "doc_id", "text",
          TextStatsOps.BpeDemoMerges, TextStatsOps.bpeVocab(),
          byteLevel = true, byteFallback = true)
        TextStatsOps.bpeDecodeRanked(enc, "doc_id",
          TextStatsOps.bpeVocab(), byteFallback = true)
      },
      Some("""SELECT doc_id, text FROM documents
             |WHERE text IS NOT NULL AND text != ''
             |UNION ALL
             |SELECT * FROM (VALUES
             |  (920001, 'čau světe' || chr(9) || 'mixed  spaces'),
             |  (920002, 'emoji 😀 and Ġ genuine marker'),
             |  (920003, 'line' || chr(10) || 'break and trailing ')
             |) v(doc_id, text)""".stripMargin)),

    // PRODUCTION-SIZE merge table (r14 verdict task #1's "done" bar):
    // the ranked encoder carries a 33 024-entry table — the 24 demo
    // rules plus 33 000 synthetic single-codepoint CJK pads
    // (bpePadMerges) that CANNOT fire on the ASCII corpus (their
    // alphabet never occurs), so the corpus branch keeps the
    // independent 24-rule DuckDB fixpoint oracle while the kernel
    // demonstrably carries the full table (an un-broadcast or
    // plan-literal table would be a 33k-entry task tax; the 32-rule
    // fence would throw). Three planted CJK rows make DEEP ranks fire
    // for real, with hand-derived closed-form expectations:
    //   pad 5000  = (A, B), rank 5024, id 2 005 024
    //     where A = U+4E00+5000, B = U+4E00+((7·5000+13) mod 20000 =
    //     15013) — "AB" merges to ONE symbol;
    //   pad 12141 = (X, A), rank 12165, where 7·12141+13 ≡ 5000
    //     (mod 20000) makes its second element exactly A. In "XAB"
    //     BOTH pads match; (A,B) at rank 5024 OUTRANKS (X,A) at
    //     12165, so the correct result is [X, AB] — a leftmost-first
    //     (rather than lowest-rank-first) implementation produces
    //     [XA, B] and hash-fails;
    //   "the AB": demo merges apply inside "the" (→ id 2 000 000,
    //     wide id of merge 0) while " AB" byte-marks to "ĠAB" and
    //     merges to [Ġ(288), AB] — demo and pad ranks coexist.
    QueryDef("bpe_rank_encode_big", {
      val pads = TextStatsOps.bpePadMerges(33000)
      val merges = TextStatsOps.BpeDemoMerges ++ pads
      val (aCh, bCh) = pads(5000)
      val (xCh, xb) = pads(12141)
      require(xb == aCh && merges.size == 33024,
        s"pad derivation drifted: $xb vs $aCh, ${merges.size}")
      (s, d) => {
        import s.implicits._
        val planted = Seq(
          (910001L, aCh + bCh),
          (910002L, xCh + aCh + bCh),
          (910003L, "the " + aCh + bCh)
        ).toDF("doc_id", "text")
        TextStatsOps.bpeEncodeRanked(
          T.documents(s, d).select("doc_id", "text").unionByName(planted),
          "doc_id", "text", merges, TextStatsOps.bpeVocabWide(merges))
      }
    },
      Some {
        val pads = TextStatsOps.bpePadMerges(33000)
        val (aCh, bCh) = pads(5000)
        val xCh = pads(12141)._1
        val ab = aCh + bCh
        val xCp = xCh.codePointAt(0) // 0x4E00 + 12141 = 32109
        bpeByteFixpointOracle(
          vocabRows = TextStatsOps.BpeDemoMerges.zipWithIndex
            .map { case ((a, b), i) => s"('$a$b', ${2000000 + i})" }
            .mkString(",\n    "),
          corpusSql = "SELECT doc_id, text FROM documents",
          plantedValues = Some(
            s"""  (910001, 0, 0, '$ab', 2005024),
               |  (910002, 0, 0, '$xCh', $xCp),
               |  (910002, 0, 1, '$ab', 2005024),
               |  (910003, 0, 0, 'the', 2000000),
               |  (910003, 1, 0, 'Ġ', 288),
               |  (910003, 1, 1, '$ab', 2005024)""".stripMargin))
      }),

    // Scalable n-gram Jaccard: explode + join on shingle — never an
    // all-pairs cross join.
    QueryDef("ngram_jaccard_pairs",
      (s, d) => TextDedupOps.jaccardPairs(
        T.documents(s, d).filter(col("doc_id") < 100), "doc_id", "text", 3)
        .select("id_a", "id_b", "jaccard"),
      Some(s"""WITH docs AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS w
              |  FROM documents WHERE doc_id < 100),
              |sh AS (SELECT doc_id AS id, unnest(list_distinct(
              |    list_transform(generate_series(1, greatest(len(w) - 2, 1)),
              |      i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS sh
              |  FROM docs),
              |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
              |common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
              |  FROM sh a JOIN sh b USING (sh) WHERE a.id < b.id GROUP BY 1, 2)
              |SELECT id_a, id_b,
              |  CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard
              |FROM common
              |JOIN sizes na ON na.id = id_a
              |JOIN sizes nb ON nb.id = id_b""".stripMargin)),

    // The CAPPED exact-Jaccard tier (r12 verdict task #1 — the one
    // standing `weak`): every 3rd document gets a shared boilerplate
    // sentence appended, so its shingles' document frequency blows past
    // the maxShingleDocs=5 ceiling and the cap MUST drop them — from
    // both the intersection counts and the sizes (the consistent
    // filtered-universe Jaccard the operator documents). The oracle
    // replays the document-frequency filter in SQL, so an inverted
    // semi-join sense, an off-by-one ceiling, or dropping from only one
    // side of the ratio hash-fails. Pair-count boundedness under a
    // 10%-hot shingle is pinned in LlmSpec.
    QueryDef("ngram_jaccard_capped",
      (s, d) => {
        val boiler = " all rights reserved terms of service apply to visitors"
        val docs = T.documents(s, d).filter(col("doc_id") < 100)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(col("text"), lit(boiler))).otherwise(col("text")))
        TextDedupOps.jaccardPairs(docs, "doc_id", "text", 3,
          maxShingleDocs = 5)
          .select("id_a", "id_b", "jaccard")
      },
      Some(s"""WITH base AS (SELECT doc_id,
              |    CASE WHEN doc_id % 3 = 0 THEN text ||
              |      ' all rights reserved terms of service apply to visitors'
              |    ELSE text END AS text2
              |  FROM documents WHERE doc_id < 100),
              |docs AS (SELECT doc_id, string_split(${normSql("text2")}, ' ') AS w
              |  FROM base),
              |sh AS (SELECT doc_id AS id, unnest(list_distinct(
              |    list_transform(generate_series(1, greatest(len(w) - 2, 1)),
              |      i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS sh
              |  FROM docs),
              |keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 5),
              |shc AS (SELECT id, sh FROM sh SEMI JOIN keep USING (sh)),
              |sizes AS (SELECT id, count(*) AS n FROM shc GROUP BY id),
              |common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
              |  FROM shc a JOIN shc b USING (sh) WHERE a.id < b.id GROUP BY 1, 2)
              |SELECT id_a, id_b,
              |  CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard
              |FROM common
              |JOIN sizes na ON na.id = id_a
              |JOIN sizes nb ON nb.id = id_b""".stripMargin)),

    // Near-dup CLUSTERS: the pair graph collapsed to components via
    // distributed min-label propagation (O(diameter) join+agg rounds) —
    // dedup keeps one doc per cluster, so this is the operator a real
    // pipeline runs after pair generation. Oracle: recursive-CTE
    // transitive closure with min label — an algorithmic differential
    // (iterative propagation vs closure), not just a numeric one.
    QueryDef("near_dup_clusters",
      (s, d) => {
        val pairs = TextDedupOps.jaccardPairs(
          T.documents(s, d), "doc_id", "text", 3)
          .filter(col("jaccard") >= 0.8)
        TextDedupOps.connectedComponents(pairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("cluster"))
      },
      Some(s"""WITH RECURSIVE docs AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS w
              |  FROM documents),
              |sh AS (SELECT doc_id AS id, unnest(list_distinct(
              |    list_transform(generate_series(1, greatest(len(w) - 2, 1)),
              |      i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS sh
              |  FROM docs),
              |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
              |common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
              |  FROM sh a JOIN sh b USING (sh) WHERE a.id < b.id GROUP BY 1, 2),
              |p AS (SELECT id_a, id_b FROM common
              |  JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
              |  WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.8),
              |e AS (SELECT id_a AS a, id_b AS b FROM p
              |      UNION SELECT id_b, id_a FROM p),
              |reach(a, b) AS (SELECT a, b FROM e
              |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
              |SELECT a AS doc_id, least(a, min(b)) AS cluster
              |FROM reach GROUP BY a""".stripMargin)),

    // The end-to-end near-dup dedup a pipeline actually ships: collapse
    // pair graph to clusters, keep the lowest doc_id per cluster, drop
    // the rest — documents not in any pair survive untouched (anti-join
    // against the non-canonical cluster members; one broadcast-sized
    // side at any corpus scale since members ≪ corpus).
    QueryDef("dedup_near_text",
      (s, d) => {
        val pairs = TextDedupOps.jaccardPairs(
          T.documents(s, d), "doc_id", "text", 3)
          .filter(col("jaccard") >= 0.8)
        val clusters = TextDedupOps.connectedComponents(pairs, "id_a", "id_b")
        TextDedupOps.applyClusters(T.documents(s, d), clusters, "doc_id")
          .select("doc_id", "source")
      },
      Some(s"""WITH RECURSIVE docs AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS w
              |  FROM documents),
              |sh AS (SELECT doc_id AS id, unnest(list_distinct(
              |    list_transform(generate_series(1, greatest(len(w) - 2, 1)),
              |      i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS sh
              |  FROM docs),
              |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
              |common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
              |  FROM sh a JOIN sh b USING (sh) WHERE a.id < b.id GROUP BY 1, 2),
              |p AS (SELECT id_a, id_b FROM common
              |  JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
              |  WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.8),
              |e AS (SELECT id_a AS a, id_b AS b FROM p
              |      UNION SELECT id_b, id_a FROM p),
              |reach(a, b) AS (SELECT a, b FROM e
              |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
              |losers AS (SELECT a AS doc_id FROM reach
              |  GROUP BY a HAVING least(a, min(b)) <> a)
              |SELECT doc_id, source FROM documents
              |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin)),

    // fastText-shape hashed linear quality classifier (Joulin et al.
    // 2016; the CCNet/FineWeb model-based quality gate next to the
    // heuristic Gopher/C4 filters). Integer milli-weights keep the
    // logit a BIGINT — exact, summation-order-free, no engine-divergent
    // exp — and keep = logit > 0 is sigmoid > 0.5 without the sigmoid.
    // The oracle rebuilds the same weight table from the same integer
    // formula and replays the md5-prefix feature hash per word.
    QueryDef("quality_classifier",
      (s, d) => {
        val w = TextStatsOps.demoClassifierWeights(64)
        T.documents(s, d).select(col("doc_id"),
            size(TextStatsOps.words(col("text"))).cast("long").as("n_words"),
            TextStatsOps.hashedClassifierLogit(col("text"), w)
              .as("logit_milli"))
          .withColumn("keep", col("logit_milli") > 0)
      },
      Some("""WITH wt AS (SELECT i, (i * 2654435761) % 1000 - 500 AS w
             |  FROM range(0, 64) t(i)),
             |wl AS (SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS word
             |  FROM documents),
             |f AS (SELECT doc_id,
             |    CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) % 64 AS b
             |  FROM wl),
             |sc AS (SELECT f.doc_id, CAST(sum(wt.w) AS BIGINT) AS logit_milli
             |  FROM f JOIN wt ON wt.i = f.b GROUP BY f.doc_id)
             |SELECT d.doc_id,
             |  CAST(len(list_filter(regexp_split_to_array(d.text, '\s+'), x -> x <> '')) AS BIGINT) AS n_words,
             |  CAST(coalesce(sc.logit_milli, 0) AS BIGINT) AS logit_milli,
             |  coalesce(sc.logit_milli, 0) > 0 AS keep
             |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin)),

    // Distributed classifier TRAINING (ClassifierOps.trainHardLogistic)
    // — the missing half of quality_classifier above: two full-batch
    // gradient steps of hard-sigmoid logistic regression (label:
    // lang = 'en'), every quantity an exact integer so the trained
    // weights are layout-invariant AND the oracle can replay BOTH
    // steps: iter-1 gradients from the zero init, truncating-div
    // weight update (Scala / == DuckDB //, which TRUNCATES — it is
    // not floor division), iter-2 logits through the clamped hard
    // sigmoid (trunc(z/4) is dyadic-exact), second
    // update, then final scoring of every document. Per step: ONE
    // single-stage job over the persisted per-document bucket counts
    // (each task folds logits and gradients into 19 longs, no
    // exchange, the weights ride the closure, not the plan); the
    // driver only ever holds a few dozen longs.
    QueryDef("classifier_train",
      (s, d) => {
        import graft.llm.ClassifierOps
        val docs = T.documents(s, d).select(col("doc_id"), col("text"),
          (col("lang") === "en").cast("int").as("y"))
        // r19: train AND score off the one materialized bucket-count
        // feature frame (same integers, one tokenize+md5 pass instead
        // of three — see bucketCountFeatures' scaladoc)
        ClassifierOps.trainHardLogisticScored(docs, "text", "y",
            "doc_id", buckets = 16, iters = 2, lrDen = 100L)
          .withColumn("keep", col("logit_micro") > 0)
      },
      Some("""WITH wl AS (SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> '')) AS word
             |  FROM documents),
             |occ AS (SELECT doc_id,
             |    CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) % 16 AS b
             |  FROM wl),
             |occb AS (SELECT doc_id, b FROM occ
             |  UNION ALL SELECT doc_id, 16 AS b FROM documents),
             |lab AS (SELECT doc_id,
             |    CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS y
             |  FROM documents),
             |nn AS (SELECT count(*) AS n FROM documents),
             |g1 AS (SELECT o.b, CAST(sum(500000 - l.y) AS BIGINT) AS g
             |  FROM occb o JOIN lab l ON l.doc_id = o.doc_id GROUP BY o.b),
             |w1 AS (SELECT i AS b,
             |    -(coalesce(g1.g, 0) // (100 * (SELECT n FROM nn))) AS wt
             |  FROM range(0, 17) t(i) LEFT JOIN g1 ON g1.b = i),
             |z2 AS (SELECT o.doc_id, CAST(sum(w1.wt) AS BIGINT) AS z
             |  FROM occb o JOIN w1 ON w1.b = o.b GROUP BY o.doc_id),
             |e2 AS (SELECT z2.doc_id,
             |    least(1000000, greatest(0, 500000 + (z2.z // 4))) - l.y AS e
             |  FROM z2 JOIN lab l ON l.doc_id = z2.doc_id),
             |g2 AS (SELECT o.b, CAST(sum(e2.e) AS BIGINT) AS g
             |  FROM occb o JOIN e2 ON e2.doc_id = o.doc_id GROUP BY o.b),
             |w2 AS (SELECT w1.b,
             |    w1.wt - (coalesce(g2.g, 0) // (100 * (SELECT n FROM nn))) AS wt
             |  FROM w1 LEFT JOIN g2 ON g2.b = w1.b)
             |SELECT o.doc_id, CAST(sum(w2.wt) AS BIGINT) AS logit_micro,
             |  CAST(sum(w2.wt) AS BIGINT) > 0 AS keep
             |FROM occb o JOIN w2 ON w2.b = o.b GROUP BY o.doc_id""".stripMargin)),

    // DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    // histograms of a target sample (every 7th doc plays the "domain
    // we want") vs the raw corpus, per-bucket micro-integer log-
    // likelihood ratios — floor(1e6·x + 0.5), a fixed rounding both
    // engines state identically, computed once per BUCKET driver-side
    // so the lone ln() never meets per-row data and a 1-ulp libm
    // difference cannot move the integer grid — then BIGINT dot-product
    // scores and a deterministic top-50 by (score desc, id). The oracle
    // recomputes the WHOLE chain (features, histograms, smoothing, ln,
    // rounding, score, top-k) from the same md5-prefix feature hash;
    // empty-feature docs score 0 via the left join on both sides.
    QueryDef("dsir_select",
      (s, d) => {
        import graft.llm.DsirOps
        val docs = T.documents(s, d).select("doc_id", "text")
        val target = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        val ratios = DsirOps.logRatioTableMicro(target, docs, "text", 64)
        DsirOps.selectTopK(docs, "doc_id", "text", ratios, 50)
          .select("doc_id", "score_micro")
      },
      Some("""WITH wl AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
             |  FROM documents),
             |feats AS (SELECT doc_id, unnest(w ||
             |    list_transform(range(1, len(w)), i ->
             |      array_to_string(list_slice(w, i, i + 1), ' '))) AS f
             |  FROM wl),
             |fb AS (SELECT doc_id,
             |    CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % 64 AS b
             |  FROM feats),
             |tot AS (SELECT
             |    (SELECT count(*) FROM fb WHERE doc_id % 7 = 0) AS tt,
             |    (SELECT count(*) FROM fb) AS rt),
             |tab AS (SELECT i AS b, CAST(floor(1e6 * (
             |      ln((coalesce(tc.c, 0) + 1.0) / (tot.tt + 64)) -
             |      ln((coalesce(rc.c, 0) + 1.0) / (tot.rt + 64))) + 0.5) AS BIGINT) AS w
             |  FROM range(0, 64) t(i) CROSS JOIN tot
             |  LEFT JOIN (SELECT b, count(*) AS c FROM fb
             |    WHERE doc_id % 7 = 0 GROUP BY b) tc ON tc.b = i
             |  LEFT JOIN (SELECT b, count(*) AS c FROM fb
             |    GROUP BY b) rc ON rc.b = i),
             |sc AS (SELECT fb.doc_id, CAST(sum(tab.w) AS BIGINT) AS s
             |  FROM fb JOIN tab ON tab.b = fb.b GROUP BY fb.doc_id),
             |al AS (SELECT d.doc_id, coalesce(sc.s, 0) AS score_micro
             |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id)
             |SELECT doc_id, score_micro FROM (
             |  SELECT *, row_number() OVER (
             |    ORDER BY score_micro DESC, doc_id) AS rn
             |  FROM al) WHERE rn <= 50""".stripMargin)),

    // DSIR → budget-draw COMPOSITION (the production shape: keep the
    // target-like slice — score_micro > 0 means "more likely under the
    // target model than the raw model" — then fill the token budget in
    // the diversity-preserving hash order among survivors). One oracle
    // CTE chain replays scoring AND the cumsum draw, so a drift in
    // either stage, or in how they meet (the score filter must run
    // BEFORE the cumsum so excluded docs free budget), moves the cut
    // document and hash-fails — exactly what the per-stage gates
    // cannot see.
    QueryDef("dsir_budget_draw",
      (s, d) => {
        import graft.llm.DsirOps
        import graft.operators.SampleOps
        val docs = T.documents(s, d).select("doc_id", "text")
        val target = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        val ratios = DsirOps.logRatioTableMicro(target, docs, "text", 64)
        val kept = docs
          .withColumn("score_micro", DsirOps.scoreMicro(col("text"), ratios))
          .filter(col("score_micro") > 0)
          .withColumn("n_tok",
            size(TextStatsOps.words(col("text"))).cast("long"))
          .select("doc_id", "score_micro", "n_tok")
        SampleOps.sampleTokenBudget(kept, "doc_id", "n_tok", budget = 5000L)
      },
      Some("""WITH wl AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
             |  FROM documents),
             |feats AS (SELECT doc_id, unnest(w ||
             |    list_transform(range(1, len(w)), i ->
             |      array_to_string(list_slice(w, i, i + 1), ' '))) AS f
             |  FROM wl),
             |fb AS (SELECT doc_id,
             |    CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % 64 AS b
             |  FROM feats),
             |tot AS (SELECT
             |    (SELECT count(*) FROM fb WHERE doc_id % 7 = 0) AS tt,
             |    (SELECT count(*) FROM fb) AS rt),
             |tab AS (SELECT i AS b, CAST(floor(1e6 * (
             |      ln((coalesce(tc.c, 0) + 1.0) / (tot.tt + 64)) -
             |      ln((coalesce(rc.c, 0) + 1.0) / (tot.rt + 64))) + 0.5) AS BIGINT) AS w
             |  FROM range(0, 64) t(i) CROSS JOIN tot
             |  LEFT JOIN (SELECT b, count(*) AS c FROM fb
             |    WHERE doc_id % 7 = 0 GROUP BY b) tc ON tc.b = i
             |  LEFT JOIN (SELECT b, count(*) AS c FROM fb
             |    GROUP BY b) rc ON rc.b = i),
             |sc AS (SELECT fb.doc_id, CAST(sum(tab.w) AS BIGINT) AS s
             |  FROM fb JOIN tab ON tab.b = fb.b GROUP BY fb.doc_id),
             |kept AS (SELECT d.doc_id, coalesce(sc.s, 0) AS score_micro,
             |    CAST(len(list_filter(regexp_split_to_array(d.text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
             |    CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || ':budget'), 1, 8)) AS BIGINT) AS h
             |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
             |  WHERE coalesce(sc.s, 0) > 0),
             |c AS (SELECT doc_id, score_micro, n_tok, sum(n_tok) OVER (
             |    ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM kept)
             |SELECT doc_id, score_micro, n_tok FROM c WHERE cum <= 5000""".stripMargin)),

    // CCNet head/middle/tail tiering + per-tier budget draw (Wenzek et
    // al. 2020 §3: rank pages by model score, cut into terciles, keep
    // mostly the head): classifier logits (integer milli-exact) rank
    // via DistScan.globalNtile — ntile as ARITHMETIC on the
    // distributed row number, range-repartitioned, never a
    // single-partition window — then each tier fills its own token
    // quota in hash order (sampleTokenBudgetPerGroup's grouped cumsum).
    // The oracle replays logit → ntile(3) window → per-tier cumsum
    // with CASE budgets in one chain.
    QueryDef("ccnet_quality_buckets",
      (s, d) => {
        import graft.operators.{DistScan, SampleOps}
        val w = TextStatsOps.demoClassifierWeights(64)
        val docs = T.documents(s, d).select(col("doc_id"),
          TextStatsOps.hashedClassifierLogit(col("text"), w)
            .as("logit_milli"),
          size(TextStatsOps.words(col("text"))).cast("long").as("n_tok"))
        val tiled = DistScan.globalNtile(docs,
          Seq(col("logit_milli").desc, col("doc_id").asc), 3, "tier")
        val labeled = tiled.withColumn("tier",
          when(col("tier") === 1, "head")
            .when(col("tier") === 2, "middle").otherwise("tail"))
        SampleOps.sampleTokenBudgetPerGroup(labeled, "tier", "doc_id",
            "n_tok", Map("head" -> 6000L, "middle" -> 3000L,
              "tail" -> 1000L))
          .select("doc_id", "tier", "n_tok")
      },
      Some("""WITH wt AS (SELECT i, (i * 2654435761) % 1000 - 500 AS w
             |  FROM range(0, 64) t(i)),
             |wl AS (SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS word
             |  FROM documents),
             |f AS (SELECT doc_id,
             |    CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) % 64 AS b
             |  FROM wl),
             |sc AS (SELECT f.doc_id, CAST(sum(wt.w) AS BIGINT) AS lg
             |  FROM f JOIN wt ON wt.i = f.b GROUP BY f.doc_id),
             |base AS (SELECT d.doc_id, coalesce(sc.lg, 0) AS lg,
             |    CAST(len(list_filter(regexp_split_to_array(d.text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
             |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
             |tiers AS (SELECT doc_id, n_tok,
             |    ntile(3) OVER (ORDER BY lg DESC, doc_id) AS t FROM base),
             |lab AS (SELECT doc_id, n_tok,
             |    CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
             |      ELSE 'tail' END AS tier,
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':budget'), 1, 8)) AS BIGINT) AS h
             |  FROM tiers),
             |c AS (SELECT doc_id, tier, n_tok, sum(n_tok) OVER (
             |    PARTITION BY tier ORDER BY h, doc_id
             |    ROWS UNBOUNDED PRECEDING) AS cum FROM lab)
             |SELECT doc_id, tier, n_tok FROM c
             |WHERE cum <= CASE tier WHEN 'head' THEN 6000
             |  WHEN 'middle' THEN 3000 ELSE 1000 END""".stripMargin)),

    // Per-DOMAIN document cap — the Common-Crawl-style curation step
    // between URL parsing and content filters: planted URLs give every
    // 10th document one HOT host (10% of the corpus — the
    // boilerplate-site shape) and the rest spread over 37 site hosts;
    // Spark's parse_url extracts the host and GroupOps.headPerKey keeps
    // each host's 3 lowest doc_ids via the bounded-buffer aggregate
    // (the hot host partial-aggregates map-side — a row_number window
    // here would be the r11 paragraph-dedup skew hazard all over
    // again). The oracle re-derives the host with regexp and replays
    // the cap with its window.
    QueryDef("domain_cap_url",
      (s, d) => {
        import graft.operators.GroupOps
        val docs = T.documents(s, d).select(col("doc_id"),
          concat(lit("https://"),
            when(pmod(col("doc_id"), lit(10)) === 0, lit("hot.example.com"))
              .otherwise(concat(lit("site"), pmod(col("doc_id"), lit(37)),
                lit(".example.com"))),
            lit("/p/"), col("doc_id"), lit("?utm=x")).as("url"))
        val withHost = docs.withColumn("host",
          parse_url(col("url"), lit("HOST")))
        GroupOps.headPerKey(withHost, Seq("host"), "doc_id", 3)
          .select("doc_id", "host")
      },
      Some("""WITH u AS (SELECT doc_id,
             |    'https://' || CASE WHEN doc_id % 10 = 0 THEN 'hot.example.com'
             |      ELSE 'site' || CAST(doc_id % 37 AS VARCHAR) || '.example.com' END ||
             |      '/p/' || doc_id || '?utm=x' AS url
             |  FROM documents),
             |h AS (SELECT doc_id,
             |    regexp_extract(url, 'https://([^/]+)/', 1) AS host FROM u)
             |SELECT doc_id, host FROM (
             |  SELECT doc_id, host, row_number() OVER (
             |    PARTITION BY host ORDER BY doc_id) AS rn
             |  FROM h) WHERE rn <= 3""".stripMargin)),

    // Host-graph centrality prior (GraphOps.pageRank) — the
    // Common-Crawl-style domain ranking a curation pipeline weights
    // draws with. Deterministic host graph planted from doc_id
    // arithmetic (101 hosts, one edge per document); THREE damped
    // rounds in fixed-point integer units: every contribution is an
    // integer floor-div and every combine an integer sum, so the
    // distributed result is bit-identical on any partitioning and the
    // oracle replays all three rounds as unrolled CTEs with DuckDB's
    // `//`. A float PageRank could never face a hash oracle — partial
    // sums would drift at 1 ulp per merge order.
    QueryDef("host_rank",
      (s, d) => {
        val e = T.documents(s, d).select(
          pmod(col("doc_id"), lit(101)).as("src"),
          pmod(col("doc_id") * 7 + 3, lit(101)).as("dst"))
        graft.operators.GraphOps.pageRank(e, iters = 3)
      },
      Some("""WITH e AS (SELECT doc_id % 101 AS src,
             |    (doc_id * 7 + 3) % 101 AS dst FROM documents),
             |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
             |p AS (SELECT 1000000000000 // count(*) AS base FROM nodes),
             |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
             |r0 AS (SELECT node, (SELECT base FROM p) AS r FROM nodes),
             |c1 AS (SELECT e.dst AS node,
             |    CAST(sum(r0.r // deg.deg) AS BIGINT) AS s
             |  FROM e JOIN r0 ON r0.node = e.src
             |  JOIN deg ON deg.src = e.src GROUP BY e.dst),
             |r1 AS (SELECT n.node, (15 * (SELECT base FROM p)) // 100
             |    + (85 * coalesce(c1.s, 0)) // 100 AS r
             |  FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
             |c2 AS (SELECT e.dst AS node,
             |    CAST(sum(r1.r // deg.deg) AS BIGINT) AS s
             |  FROM e JOIN r1 ON r1.node = e.src
             |  JOIN deg ON deg.src = e.src GROUP BY e.dst),
             |r2 AS (SELECT n.node, (15 * (SELECT base FROM p)) // 100
             |    + (85 * coalesce(c2.s, 0)) // 100 AS r
             |  FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
             |c3 AS (SELECT e.dst AS node,
             |    CAST(sum(r2.r // deg.deg) AS BIGINT) AS s
             |  FROM e JOIN r2 ON r2.node = e.src
             |  JOIN deg ON deg.src = e.src GROUP BY e.dst),
             |r3 AS (SELECT n.node, (15 * (SELECT base FROM p)) // 100
             |    + (85 * coalesce(c3.s, 0)) // 100 AS r
             |  FROM nodes n LEFT JOIN c3 ON c3.node = n.node)
             |SELECT node, r AS rank FROM r3""".stripMargin)),

    // Domain-suffix blocklist (UT1/RefinedWeb adult-ads-malware list
    // step, UrlOps.blockedDomain) — SUFFIX semantics, never substring:
    // the entry hot.example.com must block cdn.hot.example.com (every
    // 20th doc) and hot.example.com itself (every 10th) but NOT
    // site<k>.example.com; every 13th doc gets an unparseable URL that
    // must survive as blocked=false (dropping unparseables would bias
    // the corpus). Zero shuffle — the list rides the plan as one array
    // literal probed per row. The oracle re-derives the host from the
    // same planted CASE and states the blocklist as exact-or-dot-
    // suffix LIKE predicates.
    QueryDef("url_blocklist",
      (s, d) => {
        val docs = T.documents(s, d).select(col("doc_id"),
          when(pmod(col("doc_id"), lit(13)) === 0, lit("not a url"))
            .otherwise(concat(lit("https://"),
              when(pmod(col("doc_id"), lit(20)) === 0,
                lit("cdn.hot.example.com"))
                .when(pmod(col("doc_id"), lit(10)) === 0,
                  lit("hot.example.com"))
                .otherwise(concat(lit("site"), pmod(col("doc_id"), lit(37)),
                  lit(".example.com"))),
              lit("/p/"), col("doc_id"))).as("url"))
        docs.select(col("doc_id"),
          graft.llm.UrlOps.blockedDomain(col("url"),
            Seq("hot.example.com", "site3.example.com", "nomatch.net"))
            .as("blocked"))
      },
      Some("""WITH h AS (SELECT doc_id,
             |    CASE WHEN doc_id % 20 = 0 THEN 'cdn.hot.example.com'
             |         WHEN doc_id % 10 = 0 THEN 'hot.example.com'
             |         ELSE 'site' || CAST(doc_id % 37 AS VARCHAR) || '.example.com'
             |    END AS host FROM documents)
             |SELECT doc_id,
             |  CASE WHEN doc_id % 13 = 0 THEN false
             |       ELSE (host = 'hot.example.com'
             |          OR host LIKE '%.hot.example.com'
             |          OR host = 'site3.example.com'
             |          OR host LIKE '%.site3.example.com'
             |          OR host = 'nomatch.net'
             |          OR host LIKE '%.nomatch.net') END AS blocked
             |FROM h""".stripMargin)),

    // Per-SOURCE token-budget draw (SampleOps.sampleTokenBudgetPerGroup)
    // — domain mixing by token QUOTA over the grouped distributed
    // cumsum (DistScan.withGroupedRunningSum: range buckets on the
    // hash, per-(bucket, source) windows, tiny broadcast offset join —
    // a hot source still splits across buckets). Budgets vary by
    // source index; the oracle replays the hash order and the cumsum
    // with a per-source window and a VALUES budget table.
    QueryDef("sample_budget_per_source", {
      val budgets =
        (0 until 20).map(k => s"src$k" -> (400L + 200L * (k % 3))).toMap
      (s: SparkSession, d: String) => {
        import graft.operators.SampleOps
        val docs = T.documents(s, d).select(col("doc_id"), col("source"),
          size(TextStatsOps.words(col("text"))).cast("long").as("n_tok"))
        SampleOps.sampleTokenBudgetPerGroup(docs, "source", "doc_id",
          "n_tok", budgets)
          .select("doc_id", "source", "n_tok")
      }
    }, {
      val values = (0 until 20)
        .map(k => s"('src$k', ${400L + 200L * (k % 3)})").mkString(",\n    ")
      Some(s"""WITH b(source, budget) AS (VALUES
              |    $values),
              |t AS (SELECT doc_id, source,
              |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
              |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':budget'), 1, 8)) AS BIGINT) AS h
              |  FROM documents),
              |c AS (SELECT doc_id, source, n_tok, sum(n_tok) OVER (
              |    PARTITION BY source ORDER BY h, doc_id
              |    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
              |SELECT doc_id, source, n_tok FROM c JOIN b USING (source)
              |WHERE cum <= budget""".stripMargin)
    }),

    // Chunk→document embedding mean-pooling
    // (SimilarityOps.meanPoolChunks): three synthetic chunks per vector
    // (embedding scaled by c+1), folded in ascending chunk order with
    // an explicit zero init — the oracle replays the IDENTICAL fold
    // (list_prepend zero + list_reduce), so the double sums are
    // bit-equal by order, no tolerance. An unordered sum, a dropped
    // chunk, or a wrong divisor changes doubles and hash-fails.
    QueryDef("chunk_mean_pool",
      (s, d) => {
        val chunks = T.embeddings(s, d)
          .select(col("vec_id"), explode(sequence(lit(0), lit(2))).as("c"),
            col("embedding"))
          .select(col("vec_id"), col("c"),
            transform(col("embedding"),
              x => x.cast("double") * (col("c") + 1)).as("ch_emb"))
        SimilarityOps.meanPoolChunks(chunks, "vec_id", "c", "ch_emb")
          .select(col("vec_id"), col("n_chunks"),
            posexplode(col("doc_emb")).as(Seq("dim", "mean_val")))
      },
      Some("""WITH ch AS (SELECT vec_id, c,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE) * (c + 1)) AS e
             |  FROM (SELECT vec_id, embedding, unnest([0, 1, 2]) AS c
             |        FROM embeddings)),
             |g AS (SELECT vec_id, count(*) AS n_chunks,
             |    list(e ORDER BY c) AS es FROM ch GROUP BY vec_id),
             |f AS (SELECT vec_id, n_chunks,
             |    list_reduce(
             |      list_prepend(list_transform(es[1], x -> 0.0), es),
             |      (a, b) -> list_transform(range(1, len(a) + 1),
             |        i -> a[CAST(i AS INT)] + b[CAST(i AS INT)])) AS s
             |  FROM g),
             |e AS (SELECT vec_id, n_chunks, s,
             |    unnest(range(1, len(s) + 1)) AS i FROM f)
             |SELECT vec_id, CAST(n_chunks AS BIGINT) AS n_chunks,
             |  CAST(i - 1 AS INT) AS dim,
             |  s[CAST(i AS INT)] / n_chunks AS mean_val
             |FROM e""".stripMargin)),

    // Cluster-balanced subcorpus draw (the DoReMi/D4-style topic-mix
    // cap): nearest-centroid assignment over four PLANTED centroids —
    // the embeddings of vec_id 0..3, so the oracle reads the SAME
    // centroid vectors from the table instead of trusting a float
    // literal round-trip — then ≤20 rows per cluster by the
    // collision-free hash order. Assignment is max-dot with
    // lowest-cell tie-break (assignCells' fold keeps the earlier cell
    // on equal scores; the oracle's window orders score DESC, cell).
    QueryDef("cluster_balanced_draw",
      (s, d) => {
        val emb = T.embeddings(s, d).select("vec_id", "embedding")
        val cents = emb.filter(col("vec_id") < 4).orderBy("vec_id")
          .select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toArray)
        SimilarityOps.clusterBalancedSample(emb, "vec_id", "embedding",
            cents, 20)
          .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |cents AS (SELECT vec_id AS cell, e AS ce FROM c WHERE vec_id < 4),
             |sc AS (SELECT c.vec_id, cents.cell,
             |    list_dot_product(c.e, cents.ce) AS score
             |  FROM c CROSS JOIN cents),
             |asg AS (SELECT vec_id, cell AS cluster FROM (
             |    SELECT *, row_number() OVER (PARTITION BY vec_id
             |      ORDER BY score DESC, cell) AS rn FROM sc)
             |  WHERE rn = 1),
             |h AS (SELECT vec_id, cluster,
             |    CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR) || ':bal'), 1, 8)) AS BIGINT)
             |      * 1048576 + vec_id AS hk
             |  FROM asg)
             |SELECT vec_id, CAST(cluster AS INT) AS cluster FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY cluster ORDER BY hk) AS rn FROM h)
             |WHERE rn <= 20""".stripMargin)),

    // Per-GROUP deterministic n-sample — stratified corpus sampling
    // (n docs per source/language/domain) via GroupOps.headPerKey over
    // the md5-hash order: BoundedMinList partial-aggregates map-side,
    // so a group holding half the corpus costs its map partitions, not
    // one reduce task (the row_number-window formulation would). The
    // order key is hash·2^20 + doc_id — collision-free here (ids <
    // 2^20), which makes "n smallest order values" an EXACT sample the
    // oracle replays with its window.
    QueryDef("group_sample_n",
      (s, d) => {
        import graft.operators.{GroupOps, SampleOps}
        val docs = T.documents(s, d).select(col("doc_id"), col("source"))
          .withColumn("__sord",
            SampleOps.hashU32(col("doc_id"), "gsamp") * 1048576L +
              col("doc_id"))
        GroupOps.headPerKey(docs, Seq("source"), "__sord", 5)
          .select("source", "doc_id")
      },
      Some("""SELECT source, doc_id FROM (
             |  SELECT source, doc_id, row_number() OVER (
             |    PARTITION BY source ORDER BY
             |      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':gsamp'), 1, 8)) AS BIGINT)
             |        * 1048576 + doc_id) AS rn
             |  FROM documents) WHERE rn <= 5""".stripMargin)),

    // URL canonicalization (UrlOps.normalizeUrl) — the step before
    // domain_cap_url's host extraction and any URL-keyed dedup. Six
    // planted shapes per doc_id: case-mangled scheme/host + default
    // port + tracking param + fragment, lowercase-host https default
    // port, empty path on a custom port, mid-list tracking param,
    // userinfo + fbclid, fragment containing a '?'. The oracle states
    // BOTH the messy input and the expected normalized form closed-form
    // from doc_id, so every rule (case, ports, userinfo, fragment,
    // param filtering, path default) is pinned independently of the
    // engine's URL parser.
    QueryDef("url_normalize",
      (s, d) => {
        val id = col("doc_id")
        val m = pmod(id, lit(6))
        val url = when(m === 0, concat(lit("HTTP://WWW.Example.COM:80/a/"),
            id, lit("?utm_source=x&id="), id, lit("#frag")))
          .when(m === 1, concat(lit("https://Site"), pmod(id, lit(7)),
            lit(".Example.com:443/p/"), id, lit("?gclid=abc")))
          .when(m === 2, lit("https://EXAMPLE.com:8443"))
          .when(m === 3, concat(lit("http://example.com/path/"), id,
            lit("/?q="), id, lit("&utm_medium=email&r=2")))
          .when(m === 4, concat(lit("HTTPS://user:pw@Host"),
            pmod(id, lit(5)), lit(".COM/x?fbclid=9&a=1")))
          .otherwise(concat(lit("http://example.com/p"), id,
            lit("#sec?not")))
        T.documents(s, d).select(id, url.as("url"),
          UrlOps.normalizeUrl(url).as("norm"))
      },
      Some("""SELECT doc_id,
             |  CASE doc_id % 6
             |    WHEN 0 THEN 'HTTP://WWW.Example.COM:80/a/' || doc_id ||
             |      '?utm_source=x&id=' || doc_id || '#frag'
             |    WHEN 1 THEN 'https://Site' || (doc_id % 7) ||
             |      '.Example.com:443/p/' || doc_id || '?gclid=abc'
             |    WHEN 2 THEN 'https://EXAMPLE.com:8443'
             |    WHEN 3 THEN 'http://example.com/path/' || doc_id ||
             |      '/?q=' || doc_id || '&utm_medium=email&r=2'
             |    WHEN 4 THEN 'HTTPS://user:pw@Host' || (doc_id % 5) ||
             |      '.COM/x?fbclid=9&a=1'
             |    ELSE 'http://example.com/p' || doc_id || '#sec?not'
             |  END AS url,
             |  CASE doc_id % 6
             |    WHEN 0 THEN 'http://www.example.com/a/' || doc_id ||
             |      '?id=' || doc_id
             |    WHEN 1 THEN 'https://site' || (doc_id % 7) ||
             |      '.example.com/p/' || doc_id
             |    WHEN 2 THEN 'https://example.com:8443/'
             |    WHEN 3 THEN 'http://example.com/path/' || doc_id ||
             |      '/?q=' || doc_id || '&r=2'
             |    WHEN 4 THEN 'https://host' || (doc_id % 5) || '.com/x?a=1'
             |    ELSE 'http://example.com/p' || doc_id
             |  END AS norm
             |FROM documents""".stripMargin)),

    // applyClusters as a first-class operator gate (r11 verdict task
    // 5): pairs → connectedComponents → keep each cluster's min-id
    // representative, anti-join the rest — over the CLONE-AUGMENTED
    // corpus, so 50 planted exact-duplicate clusters are guaranteed
    // present and every +10000 clone must vanish while its original
    // survives. The oracle replays the whole pipeline with its
    // recursive-CTE components. (dedup_near_text pins the same shape
    // inline over the natural corpus; this pins the reusable
    // TextDedupOps.applyClusters step itself under planted clusters.)
    QueryDef("dedup_apply_clusters",
      (s, d) => {
        val corpus = augmented(s, d)
        val pairs = TextDedupOps.jaccardPairs(corpus, "doc_id", "text", 3)
          .filter(col("jaccard") >= 0.8)
        val clusters = TextDedupOps.connectedComponents(pairs, "id_a", "id_b")
        TextDedupOps.applyClusters(corpus, clusters, "doc_id")
          .select("doc_id")
      },
      Some(s"""WITH RECURSIVE corpus AS ($augmentedSql),
              |docs AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS w
              |  FROM corpus),
              |sh AS (SELECT doc_id AS id, unnest(list_distinct(
              |    list_transform(generate_series(1, greatest(len(w) - 2, 1)),
              |      i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS sh
              |  FROM docs),
              |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
              |common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
              |  FROM sh a JOIN sh b USING (sh) WHERE a.id < b.id GROUP BY 1, 2),
              |p AS (SELECT id_a, id_b FROM common
              |  JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
              |  WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.8),
              |e AS (SELECT id_a AS a, id_b AS b FROM p
              |      UNION SELECT id_b, id_a FROM p),
              |reach(a, b) AS (SELECT a, b FROM e
              |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
              |losers AS (SELECT a AS doc_id FROM reach
              |  GROUP BY a HAVING least(a, min(b)) <> a)
              |SELECT doc_id FROM corpus
              |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin)),

    // MinHash + LSH banding over planted duplicates, PINNED against the
    // oracle via the exact-duplicate tier (r7/r8 verdict task): the full
    // signature + banding machinery runs over the augmented corpus, and
    // the compared projection is the LSH candidate set inner-joined with
    // the md5-fingerprint clone pairs. Identical normalized text ⇒
    // identical word hashes ⇒ identical signatures ⇒ ALL bands collide
    // and est_jaccard = 32/32 = 1.0 exactly — so the intersection equals
    // the fingerprint pair set, which DuckDB computes independently
    // (no xxhash64 needed). A signature/banding bug that drops or
    // corrupts a clone pair hash-fails the gate. The Spark-only false
    // positives / near-dup candidates stay covered by LlmSpec's
    // planted-dup recall test.
    // Signatures persist MEMORY_AND_DISK: the plan consumes them three
    // times (band explode + two pair-side re-attach joins), and each
    // consumer would otherwise re-run the corpus scan, the 2-regex
    // normalize and the row-local signature kernel — at any scale you
    // materialize signatures once, never recompute per use.
    // Registered with DistScan's release queue so the application's
    // step-boundary releaseCaches() frees them.
    QueryDef("minhash_near_dup",
      (s, d) => {
        val aug = augmented(s, d)
        val sigs = graft.operators.DistScan.registerCache(
          TextDedupOps.minHashSignatures(
            aug, "doc_id", "text", shingleN = 3, k = 32)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val lsh = TextDedupOps.lshCandidatePairs(sigs, "doc_id",
          bands = 8, threshold = 0.9)
        // fp persists like the signatures do (r19, guide §2.4): the
        // self-join consumes it twice, and unpersisted each side
        // re-scanned the corpus union (4 parquet scans) and re-ran the
        // 2-regex normalize + md5 per scan — the plan's fp side is now
        // one materialization + two InMemoryTableScans
        val fp = graft.operators.DistScan.registerCache(
          aug.select(col("doc_id"),
            TextDedupOps.fingerprint(col("text")).as("fp"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val clonePairs = fp.select(col("doc_id").as("id_a"), col("fp"))
          .join(fp.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
        // clone pairs are duplicate-bounded (tiny vs the candidate set):
        // broadcast so the LSH side never re-shuffles for this join
        broadcast(clonePairs).join(lsh, Seq("id_a", "id_b"))
          .select(col("id_a"), col("id_b"),
            round(col("est_jaccard") * 1e6).cast("long").as("est_e6"))
      },
      Some(s"""WITH aug AS ($augmentedSql),
              |f AS (SELECT doc_id, md5(${normSql("text")}) AS fp FROM aug)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  CAST(1000000 AS BIGINT) AS est_e6
              |FROM f a JOIN f b USING (fp) WHERE a.doc_id < b.doc_id""".stripMargin)),

    // The CAPPED candidate generator under the oracle (r9 verdict task
    // #7): identical machinery to minhash_near_dup but with a finite
    // maxBucketSize=64, the 100 TB production setting the gate never
    // exercised before (Bench's lsh_stress_capped times it but nothing
    // hash-checked it). The result is cap-INVARIANT on this fixture by
    // construction: clone clusters are pairs/triples, far below the cap,
    // and every band bucket above it holds only spurious collisions —
    // so the compared projection still equals the fingerprint pair set.
    // A cap bug that drops cool buckets (or the semi-join inverting its
    // sense) removes clone pairs and hash-fails.
    QueryDef("minhash_capped_pairs",
      (s, d) => {
        val aug = augmented(s, d)
        val sigs = TextDedupOps.minHashSignatures(
          aug, "doc_id", "text", shingleN = 3, k = 32)
        val lsh = TextDedupOps.lshCandidatePairs(sigs, "doc_id",
          bands = 8, threshold = 0.9, maxBucketSize = 64)
        val fp = aug.select(col("doc_id"),
          TextDedupOps.fingerprint(col("text")).as("fp"))
        val clonePairs = fp.select(col("doc_id").as("id_a"), col("fp"))
          .join(fp.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
        broadcast(clonePairs).join(lsh, Seq("id_a", "id_b"))
          .select(col("id_a"), col("id_b"),
            round(col("est_jaccard") * 1e6).cast("long").as("est_e6"))
      },
      Some(s"""WITH aug AS ($augmentedSql),
              |f AS (SELECT doc_id, md5(${normSql("text")}) AS fp FROM aug)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  CAST(1000000 AS BIGINT) AS est_e6
              |FROM f a JOIN f b USING (fp) WHERE a.doc_id < b.doc_id""".stripMargin)),

    // CROSS-corpus near-dup decontamination
    // (TextDedupOps.crossCorpusNearDups): probes are clones of every
    // 10th corpus doc (+50000 ids); the compared projection is the
    // candidate set semi-joined against the engine-independent
    // fingerprint CROSS-pair set (recall side exact, like
    // minhash_capped_pairs — clone signatures are identical by
    // construction, so est_jaccard is exactly 1). A side-tag bug, a
    // lost cross pair, or an id decode error drops rows and hash-fails.
    QueryDef("cross_corpus_near_dup",
      (s, d) => {
        val docs = T.documents(s, d).select(col("doc_id"), col("text"))
        val probes = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select((col("doc_id") + 50000).as("doc_id"), col("text"))
        val got = TextDedupOps.crossCorpusNearDups(docs, probes,
          "doc_id", "text", shingleN = 3, k = 32, bands = 8,
          threshold = 0.9, maxBucketSize = 64)
        val cfp = docs.select(col("doc_id").as("corpus_id"),
          TextDedupOps.fingerprint(col("text")).as("fp"))
        val pfp = probes.select(col("doc_id").as("probe_id"),
          TextDedupOps.fingerprint(col("text")).as("fp"))
        val clonePairs = cfp.join(pfp, Seq("fp"))
          .select("corpus_id", "probe_id")
        broadcast(clonePairs).join(got, Seq("corpus_id", "probe_id"))
          .select(col("corpus_id"), col("probe_id"),
            round(col("est_jaccard") * 1e6).cast("long").as("est_e6"))
      },
      Some(s"""WITH f AS (SELECT doc_id, md5(${normSql("text")}) AS fp
              |  FROM documents),
              |p AS (SELECT doc_id + 50000 AS probe_id,
              |    md5(${normSql("text")}) AS fp
              |  FROM documents WHERE doc_id % 10 = 0)
              |SELECT f.doc_id AS corpus_id, p.probe_id,
              |  CAST(1000000 AS BIGINT) AS est_e6
              |FROM f JOIN p USING (fp)""".stripMargin)),

    // Benchmark decontamination: per-doc fraction of distinct 3-gram
    // shingles also present in the "eval" slice (doc_id < 20) — the
    // leakage check every training pipeline runs. Benchmark shingles
    // broadcast; corpus scanned once.
    QueryDef("contamination_score",
      (s, d) => {
        val docs = T.documents(s, d)
        TextDedupOps.contaminationScore(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "doc_id", "text", 3)
      },
      Some(s"""WITH docs AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS w
              |  FROM documents),
              |sh AS (SELECT doc_id AS id, unnest(list_distinct(
              |    list_transform(generate_series(1, greatest(len(w) - 2, 1)),
              |      i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS sh
              |  FROM docs),
              |bench AS (SELECT DISTINCT sh FROM sh WHERE id < 20),
              |corp AS (SELECT * FROM sh WHERE id >= 20),
              |t AS (SELECT id, count(*) AS n_sh FROM corp GROUP BY id),
              |m AS (SELECT id, count(*) AS n_hit FROM corp JOIN bench USING (sh)
              |      GROUP BY id)
              |SELECT id AS doc_id, n_sh, coalesce(n_hit, 0) AS n_hit,
              |  CAST(coalesce(n_hit, 0) AS DOUBLE) / n_sh AS contamination
              |FROM t LEFT JOIN m USING (id)""".stripMargin)),

    // Sliding word-window chunking (50-word chunks, 10-word overlap):
    // the pre-embedding curation step, emitted as (doc, chunk_id,
    // fingerprint, word count) so the compare stays compact.
    QueryDef("chunk_documents",
      (s, d) => TextStatsOps
        .chunkWords(T.documents(s, d), "doc_id", "text", 50, 10)
        .select(col("doc_id"), col("chunk_id"),
          md5(col("chunk")).as("chunk_md5"),
          size(split(col("chunk"), " ")).as("n_words")),
      Some(s"""WITH d AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS w
              |  FROM documents),
              |c AS (SELECT doc_id, w,
              |    greatest(1, CAST((len(w) - 10 + 39) // 40 AS INTEGER)) AS n
              |  FROM d)
              |SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
              |  md5(array_to_string(list_slice(w, k * 40 + 1, k * 40 + 50), ' ')) AS chunk_md5,
              |  CAST(len(string_split(array_to_string(
              |    list_slice(w, k * 40 + 1, k * 40 + 50), ' '), ' ')) AS INTEGER) AS n_words
              |FROM c, unnest(generate_series(0, n - 1)) AS t(k)""".stripMargin)),

    // int8 embedding quantization: codes + checksum + max reconstruction
    // error (1e-6 integer units) — scan-local, exact cross-engine. The
    // compared projection flattens `codes` to a CSV string: the driver's
    // pandas-side compare sorts result columns and cannot hash a raw
    // array cell (r7 gate red). The engine API (quantizeInt8) still
    // returns the typed array<int> column.
    QueryDef("embedding_quantize_int8",
      (s, d) => SimilarityOps.quantizeInt8(T.embeddings(s, d), "embedding")
        .filter(col("err_e6").isNotNull) // zero vectors: dropped both sides
        .select(col("vec_id"),
          array_join(col("codes"), ",").as("codes_csv"),
          col("code_sum"), col("err_e6")),
      Some("""WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e,
             |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s
             |  FROM embeddings),
             |q AS (SELECT vec_id, e, s,
             |    list_transform(e, x -> CAST(round(x / s) AS INTEGER)) AS codes
             |  FROM b WHERE s > 0)
             |SELECT vec_id, array_to_string(codes, ',') AS codes_csv,
             |  CAST(list_reduce(list_transform(codes, c -> CAST(c AS BIGINT)),
             |    (a, b) -> a + b) AS BIGINT) AS code_sum,
             |  CAST(round(list_max(list_transform(generate_series(1, len(e)),
             |    i -> abs(e[i] - codes[i] * s))) * 1e6) AS BIGINT) AS err_e6
             |FROM q""".stripMargin)),

    // SimHash pinned the same way as minhash_near_dup: 64-bit simhashes
    // are computed for the whole augmented corpus (the real operator
    // runs in full), and the compared projection is the Hamming distance
    // over the md5-fingerprint clone pairs — identical normalized text ⇒
    // identical token stream ⇒ identical per-bit vote sums ⇒ Hamming 0,
    // an invariant DuckDB states without needing xxhash64. A tokenizer /
    // vote / bit-packing bug that breaks simhash determinism hash-fails
    // the gate; bucket behavior on non-identical docs is spec'd in
    // LlmSpec.
    QueryDef("simhash_docs",
      (s, d) => {
        val aug = augmented(s, d)
        val sh = TextDedupOps.simHash(aug, "doc_id", "text")
        val fp = aug.select(col("doc_id"),
          TextDedupOps.fingerprint(col("text")).as("fp"))
        val clonePairs = fp.select(col("doc_id").as("id_a"), col("fp"))
          .join(fp.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
        broadcast(clonePairs)
          .join(sh.select(col("doc_id").as("id_a"), col("simhash").as("h_a")), Seq("id_a"))
          .join(sh.select(col("doc_id").as("id_b"), col("simhash").as("h_b")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            TextDedupOps.hammingDistance(col("h_a"), col("h_b"))
              .cast("long").as("hamming"))
      },
      Some(s"""WITH aug AS ($augmentedSql),
              |f AS (SELECT doc_id, md5(${normSql("text")}) AS fp FROM aug)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  CAST(0 AS BIGINT) AS hamming
              |FROM f a JOIN f b USING (fp) WHERE a.doc_id < b.doc_id""".stripMargin)),

    // The banded SimHash near-dup generator, gate-covered by the same
    // clone-pair invariant: identical normalized text ⇒ identical
    // simhash ⇒ every 16-bit chunk matches ⇒ the banded bucket join is
    // GUARANTEED to emit the pair with Hamming 0 — so the intersection
    // with the fingerprint pair set equals that set, which DuckDB
    // computes independently. Exercises chunk explode, bucket join, and
    // the exact-Hamming filter end-to-end.
    QueryDef("simhash_band_pairs",
      (s, d) => {
        val aug = augmented(s, d)
        val pairs = TextDedupOps.simHashNearDupPairs(aug, "doc_id", "text",
          maxHamming = 3, bands = 4)
        val fp = aug.select(col("doc_id"),
          TextDedupOps.fingerprint(col("text")).as("fp"))
        val clonePairs = fp.select(col("doc_id").as("id_a"), col("fp"))
          .join(fp.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
        broadcast(clonePairs).join(pairs, Seq("id_a", "id_b"))
          .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      },
      Some(s"""WITH aug AS ($augmentedSql),
              |f AS (SELECT doc_id, md5(${normSql("text")}) AS fp FROM aug)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  CAST(0 AS BIGINT) AS hamming
              |FROM f a JOIN f b USING (fp) WHERE a.doc_id < b.doc_id""".stripMargin)),

    QueryDef("cosine_topk",
      (s, d) => {
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        SimilarityOps.bruteForceTopK(queries, emb, 3)
          .select(col("q_id"), col("vec_id"), round(col("score"), 6).as("score"),
            col("rn"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q CROSS JOIN c WHERE vec_id != q_id)
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // Int8-shortlist + exact re-rank tier (SimilarityOps.quantizedTopK):
    // candidates rank on integer code dots (the 4×-smaller vectors that
    // actually travel at scale), the top 8·k re-score with exact
    // cosine. Emitted scores are EXACT, so the brute-force oracle
    // applies verbatim as long as the true top-3 survive the int8
    // shortlist — which this 64-dim fixture satisfies (like the LSH
    // gate's mirrored-predicate and minhash's cap-invariance, the gate
    // pins the full shortlist+re-rank machinery; recall at small
    // factors and full-shortlist equality are spec-tested in IvfSpec).
    QueryDef("cosine_topk_quantized",
      (s, d) => {
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        SimilarityOps.quantizedTopK(queries, emb, 3, rerankFactor = 8)
          .select(col("q_id"), col("vec_id"),
            round(col("score"), 6).as("score"), col("rn"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q CROSS JOIN c WHERE vec_id != q_id)
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // Product-quantization tier (Jégou et al. 2011): train 8 subspace
    // codebooks, encode the corpus to 8 codes/vector, ADC-score via the
    // query's lookup table, shortlist, re-rank with exact cosine. The
    // IVF pattern: gate the full train→encode→ADC→re-rank machinery in
    // its COVERING configuration (shortlist ⊇ corpus ⇒ the exact-cosine
    // re-rank reproduces brute force by construction, so the
    // brute-force oracle applies verbatim); small-factor shortlist
    // recall is fixture-tested in PqSpec — this table's synthetic
    // embeddings are near-uniform, where 8-byte codes carry little rank
    // signal, exactly the regime the spec's clustered fixture contrasts.
    QueryDef("cosine_pq_topk",
      (s, d) => {
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val cbs = SimilarityOps.trainPqCodebooks(emb, "vec_id", "embedding",
          m = 8, ksub = 8, iters = 1)
        SimilarityOps.pqTopK(queries, emb, 3, cbs, rerankFactor = 1000000)
          .select(col("q_id"), col("vec_id"),
            round(col("score"), 6).as("score"), col("rn"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q CROSS JOIN c WHERE vec_id != q_id)
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // IVF-PQ residual tier (IVFADC — Jégou et al. 2011 §IV) in its
    // covering configuration (nprobe = nlist, shortlist ⊇ corpus ⇒
    // the exact-cosine re-rank reproduces brute force by construction,
    // so the brute-force oracle applies verbatim and the gate stays
    // hash-exact even though the trained codebooks can drift at
    // floating-point level across partitionings). Exercises the full
    // coarse-train → residual-codebook-train → residual-encode →
    // q·ĉ + LUT ADC → re-rank machinery; approximate-config recall is
    // fixture-tested in PqSpec and measured in the bench recall block.
    QueryDef("cosine_ivfpq_topk",
      (s, d) => {
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val cents = SimilarityOps.trainIvfCentroids(emb, "vec_id",
          "embedding", 4)
        val cbs = SimilarityOps.trainPqCodebooksResidual(emb, "vec_id",
          "embedding", cents, m = 8, ksub = 8, iters = 1)
        SimilarityOps.ivfPqTopK(queries, emb, 3, cents, cbs,
          nprobe = cents.length, rerankFactor = 1000000)
          .select(col("q_id"), col("vec_id"),
            round(col("score"), 6).as("score"), col("rn"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q CROSS JOIN c WHERE vec_id != q_id)
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // IVF tier in exhaustive-probe configuration (nprobe = #cells):
    // exercises the full train-quantizer + cell-join machinery while
    // staying EXACT, so the brute-force oracle applies verbatim. The
    // approximate configuration (nprobe < cells) is recall-tested in
    // IvfSpec.
    QueryDef("cosine_ivf_topk",
      (s, d) => {
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val cents = SimilarityOps.trainIvfCentroids(emb, "vec_id", "embedding", 8)
        SimilarityOps.ivfTopK(queries, emb, 3, cents, nprobe = cents.length)
          .select(col("q_id"), col("vec_id"), round(col("score"), 6).as("score"),
            col("rn"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q CROSS JOIN c WHERE vec_id != q_id)
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // Approximate tier: candidates limited to the query's sign-bit
    // bucket (recall < 1 by design; the bucket predicate is mirrored in
    // the oracle so results still match exactly).
    QueryDef("cosine_lsh_topk",
      (s, d) => {
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        SimilarityOps.lshTopK(queries, emb, 3, 4)
          .select(col("q_id"), col("vec_id"), round(col("score"), 6).as("score"),
            col("rn"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e,
             |    (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
             |  + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
             |  + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
             |  + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
             |  FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e, bucket FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q JOIN c USING (bucket) WHERE vec_id != q_id)
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // Fuzzy pair matching (TextDedupOps.fuzzyPairs) — record linkage
    // for short strings: trigram BLOCKING (hot grams above the df cap
    // dropped — the jaccardPairs ceiling; 'item' fragments block at
    // every SF, group-number grams stay under it) proposes candidates,
    // exact levenshtein <= 1 keeps typo pairs. Planted titles: groups
    // of 4 share 'item K' with {-,x,y,-} suffix variants (all
    // within-group distances <= 1); near-number cross matches ('item
    // 12' vs 'item 123', distance 1) are real fuzzy hits and the
    // oracle — which replays blocking cap AND distance with DuckDB's
    // identical unit-cost levenshtein — finds exactly the same set.
    QueryDef("fuzzy_pairs",
      (s, d) => {
        val t = T.documents(s, d).select(col("doc_id"),
          concat(lit("item "), expr("doc_id div 4"),
            when(pmod(col("doc_id"), lit(4)) === 1, "x")
              .when(pmod(col("doc_id"), lit(4)) === 2, "y")
              .otherwise("")).as("title"))
        TextDedupOps.fuzzyPairs(t, "doc_id", "title",
          maxDist = 1, n = 3, maxGramDocs = 100)
      },
      Some("""WITH t AS (SELECT doc_id, 'item ' || CAST(doc_id // 4 AS VARCHAR) ||
             |    CASE doc_id % 4 WHEN 1 THEN 'x' WHEN 2 THEN 'y' ELSE '' END AS s
             |  FROM documents),
             |g AS (SELECT DISTINCT doc_id, s, gram FROM (
             |    SELECT doc_id, s, unnest(list_transform(range(1, len(s) - 1),
             |      i -> substr(s, i, 3))) AS gram FROM t)),
             |keep AS (SELECT gram FROM (SELECT gram, count(*) AS c
             |    FROM g GROUP BY gram) WHERE c <= 100),
             |gb AS (SELECT * FROM g WHERE gram IN (SELECT gram FROM keep)),
             |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |    a.s AS s_a, b.s AS s_b
             |  FROM gb a JOIN gb b ON a.gram = b.gram
             |    AND a.doc_id < b.doc_id)
             |SELECT id_a, id_b, CAST(levenshtein(s_a, s_b) AS BIGINT) AS dist
             |FROM p WHERE levenshtein(s_a, s_b) <= 1""".stripMargin)),

    // Image NEAR-dup tier (MultimodalOps.imagePHash): the DCT
    // perceptual hash groups re-encodes/resizes exact-byte dedup
    // misses. Each document renders one of FIVE structurally distinct
    // base images (different dims change the synthetic gradient's
    // wrap frequency — PHashSpec proves the five hash apart, and that
    // brightness shifts/resizes of one base collide as pHash must);
    // the gate groups by the hash and emits each document's duplicate-
    // class size. The oracle knows the planted equivalence classes
    // (doc_id % 5) without ever computing a hash — a collision between
    // bases, a split within a base, or a dropped undecodable row all
    // hash-fail. Codec kernel is batched mapPartitions (zero shuffle);
    // the class count is one partitioned window.
    QueryDef("image_phash_groups",
      (s, d) => {
        import s.implicits._
        import graft.llm.MultimodalOps
        val dims = Seq((16, 16), (48, 16), (16, 48), (64, 32), (20, 40))
        val assets = T.documents(s, d).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val k = (id % 5).toInt
            (id, MultimodalOps.syntheticPng(dims(k)._1, dims(k)._2,
              seed = k.toLong))
          }).toDF("doc_id", "png")
        val hashed = MultimodalOps.imagePHash(assets, "doc_id", "png")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("phash")
        hashed.select(col("doc_id"),
          count(lit(1)).over(w).as("n_same"))
      },
      Some("""SELECT doc_id,
             |  count(*) OVER (PARTITION BY doc_id % 5) AS n_same
             |FROM documents""".stripMargin)),

    // Unigram-LM (SentencePiece-family) tokenizer inference — the
    // Viterbi DP runs for real in the engine (a row-local udf over the
    // viterbiSegment kernel, vocabulary as a broadcast HashMap, zero
    // shuffle); the gate
    // corpus is planted from SEVEN words whose optimal segmentations
    // are hand-derived below (the bpe_train_encode closed-form trick),
    // so the oracle states counts without replaying the DP:
    //   theory   → 1 (whole −1.5e6 beats the+ory −2.2e6)
    //   thematic → 2 (the+matic −2.1e6; no whole-word entry)
    //   cats     → 2 (cat+s −1.7e6)
    //   dog      → 3 (OOV → per-char fallback)
    //   ab       → 1 (whole −2e6 TIES a+b −2e6 → fewer tokens wins)
    //   theorys  → 2 (theory+s −2.3e6 beats the+ory+s −3.0e6)
    //   zq       → 2 (OOV)
    // A DP bug — wrong tie-break, off-by-one window, bad fallback —
    // flips a count and hash-fails.
    QueryDef("unigram_tokenize", {
      val vocab = Map(
        "the" -> -1000000L, "theory" -> -1500000L, "ory" -> -1200000L,
        "matic" -> -1100000L, "cat" -> -900000L, "s" -> -800000L,
        "ab" -> -2000000L, "a" -> -1000000L, "b" -> -1000000L)
      val wl = Seq("theory", "thematic", "cats", "dog", "ab",
        "theorys", "zq")
      (s, d) => {
        val wlit = typedLit(wl)
        val docs = T.documents(s, d).select(col("doc_id"),
          concat_ws(" ",
            element_at(wlit, pmod(col("doc_id"), lit(7)).cast("int") + 1),
            element_at(wlit, pmod(col("doc_id") + 3, lit(7)).cast("int") + 1),
            element_at(wlit,
              pmod(col("doc_id") * 2 + 1, lit(7)).cast("int") + 1))
            .as("text"))
        docs.select(col("doc_id"),
          TextStatsOps.unigramTokenCountDoc(col("text"), vocab,
            unkCharMicro = -10000000L).as("n_tokens"))
      }
    },
      Some("""WITH cc AS (SELECT i, c FROM (VALUES
             |    (0, 1), (1, 2), (2, 2), (3, 3), (4, 1), (5, 2), (6, 2))
             |    t(i, c))
             |SELECT d.doc_id, CAST(c1.c + c2.c + c3.c AS BIGINT) AS n_tokens
             |FROM documents d
             |JOIN cc c1 ON c1.i = d.doc_id % 7
             |JOIN cc c2 ON c2.i = (d.doc_id + 3) % 7
             |JOIN cc c3 ON c3.i = (d.doc_id * 2 + 1) % 7""".stripMargin)),

    // Unigram-LM TRAINING (TextStatsOps.trainUnigramLm — hard-EM over
    // Viterbi counts, the SentencePiece trainer's shape) + encode with
    // the trained vocabulary. The training slice is pinned to
    // doc_id < 500 — present IN FULL at every SF — so the trained
    // vocabulary is bit-identical at sf0.01 and sf0.1 (exact integer
    // counts, driver-computed micro-log scores, total orders
    // everywhere) and the per-pattern token counts are fixed. The
    // oracle's VALUES tables are derived INDEPENDENTLY (a from-spec
    // simulation of seed → 2 EM rounds → prune-to-14; e.g. "banana"
    // trains to [bana, n, a] = 3 tokens after "band"/"na" lose the
    // final prune's exact 125-count tie to lexicographic order);
    // every non-tie decision in the derivation carries ≥ 198 200
    // micro-log slack, so a 1-ulp ln() disagreement cannot flip it
    // (the DSIR margin discipline; UnigramTrainSpec re-checks the
    // invariants in-engine).
    QueryDef("unigram_train_encode", {
      val wl1 = Seq("banana", "bandana", "cabana", "nacho")
      val wl2 = Seq("anna", "cab", "nan")
      (s, d) => {
        val w1 = typedLit(wl1); val w2 = typedLit(wl2)
        val docs = T.documents(s, d).filter(col("doc_id") < 500)
          .select(col("doc_id"), concat_ws(" ",
            element_at(w1, pmod(col("doc_id"), lit(4)).cast("int") + 1),
            element_at(w2, pmod(col("doc_id") + 1, lit(3)).cast("int") + 1))
            .as("text"))
        val vocab = TextStatsOps.trainUnigramLm(docs, "text",
          vocabSize = 14, rounds = 2, maxTokenLen = 4, minCount = 2,
          unkCharMicro = -20000000L)
        docs.select(col("doc_id"),
          TextStatsOps.unigramTokenCountDoc(col("text"), vocab,
            unkCharMicro = -20000000L, maxTokenLen = 4).as("n_tokens"))
      }
    },
      Some("""WITH c1 AS (SELECT i, c FROM (VALUES
             |    (0, 3), (1, 2), (2, 2), (3, 2)) t(i, c)),
             |c2 AS (SELECT j, c FROM (VALUES
             |    (0, 1), (1, 1), (2, 1)) t(j, c))
             |SELECT d.doc_id, CAST(c1.c + c2.c AS BIGINT) AS n_tokens
             |FROM documents d
             |JOIN c1 ON c1.i = d.doc_id % 4
             |JOIN c2 ON c2.j = (d.doc_id + 1) % 3
             |WHERE d.doc_id < 500""".stripMargin)),

    // STORAGE-COMPOSED unigram encode (r15 verdict task #6): the
    // round-trips writeUnigramVocab/readUnigramVocab are spec-pinned,
    // but the hole the tables-as-artifacts work exists for is
    // train → WRITE → READ-from-lake → ENCODE — a drifted score, a
    // lost piece row, or a mis-recorded maxTokenLen between the two
    // halves silently changes every downstream token count. Same
    // corpus, config, and closed-form oracle as unigram_train_encode,
    // but the vocabulary crosses parquet and the encode runs the
    // broadcast-HashMap KERNEL with the READ-BACK maxTokenLen.
    QueryDef("unigram_table_encode", {
      val wl1 = Seq("banana", "bandana", "cabana", "nacho")
      val wl2 = Seq("anna", "cab", "nan")
      (s, d) => {
        val w1 = typedLit(wl1); val w2 = typedLit(wl2)
        val docs = T.documents(s, d).filter(col("doc_id") < 500)
          .select(col("doc_id"), concat_ws(" ",
            element_at(w1, pmod(col("doc_id"), lit(4)).cast("int") + 1),
            element_at(w2, pmod(col("doc_id") + 1, lit(3)).cast("int") + 1))
            .as("text"))
        val trained = TextStatsOps.trainUnigramLm(docs, "text",
          vocabSize = 14, rounds = 2, maxTokenLen = 4, minCount = 2,
          unkCharMicro = -20000000L)
        val dir = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-llm-uvtab-${ProcessHandle.current().pid()}").toString
        TextStatsOps.writeUnigramVocab(s, dir, trained, maxTokenLen = 4)
        val (vocab, mtl) = TextStatsOps.readUnigramVocab(s, dir)
        TextStatsOps.unigramEncodeDocsKernel(docs, "doc_id", "text",
            vocab, unkCharMicro = -20000000L, maxTokenLen = mtl)
          .select("doc_id", "n_tokens")
      }
    },
      Some("""WITH c1 AS (SELECT i, c FROM (VALUES
             |    (0, 3), (1, 2), (2, 2), (3, 2)) t(i, c)),
             |c2 AS (SELECT j, c FROM (VALUES
             |    (0, 1), (1, 1), (2, 1)) t(j, c))
             |SELECT d.doc_id, CAST(c1.c + c2.c AS BIGINT) AS n_tokens
             |FROM documents d
             |JOIN c1 ON c1.i = d.doc_id % 4
             |JOIN c2 ON c2.j = (d.doc_id + 1) % 3
             |WHERE d.doc_id < 500""".stripMargin)),

    // SPACE-FREE unigram TRAINING (the trainer half of the r15 CJK
    // weak; unigram_encode_nospace covers inference): trainUnigramLm
    // on a whitespace-free corpus, where `\s+`-splitting leaves each
    // document as ONE word — the word-type reduction degenerates to
    // per-document rows and every E-step rides the backpointer
    // Viterbi's linear path. Training corpus is SF-INVARIANT
    // (s.range(300), 100 copies of each planted string) so the
    // trained vocabulary is a constant; the full 2-round hard-EM is
    // hand-derived. Seed counts (weighted substring occurrences,
    // total 5400) → round-1 Viterbi: A → [日本語]×3 (3·ln(300/5400)
    // = −8.67e6 beats (日本+語)×3 at −15.8e6), B → [学生]×2, and C →
    // [日本, 学生日, 本学生] (−9.664e6 — beats the "obvious"
    // [日本, 学生]×2 at −9.964e6 and [日本学, 生日本, 学生] at
    // −9.888e6: overlapping-window pieces win, the honest Viterbi
    // subtlety). Round-2 repeats those segmentations under the
    // re-scored 805-total vocab, so final counts are 日本語 300,
    // 学生 200, and a three-way 100 tie (日本, 学生日, 本学生)
    // resolved by the piece-ascending tie-break to 学生日 (the one
    // multi slot left at cap 8 − 5 chars). Final encodes:
    //   日本語日本語日本語 → [日本語]×3          (3 tokens, 9 chars)
    //   学生学生        → [学生]×2            (2 tokens, 4 chars)
    //   日本学生日本学生 → [日,本,学生日,本,学生] (5 tokens, 8 chars
    //     — 日本 lost the final prune, so chars at ln(1/605) carry it)
    // The oracle states (n_words=1, n_chars, n_tokens, recon)
    // closed-form — a trainer that degrades on space-free text, a
    // drifted tie-break, or a segmentation regression hash-fails.
    QueryDef("unigram_train_nospace", {
      val wl = Seq("日本語日本語日本語", "学生学生", "日本学生日本学生")
      (s, d) => {
        val wlit = typedLit(wl)
        val train = s.range(300).select(
          element_at(wlit, pmod(col("id"), lit(3)).cast("int") + 1)
            .as("text"))
        val vocab = TextStatsOps.trainUnigramLm(train, "text",
          vocabSize = 8, rounds = 2, maxTokenLen = 3, minCount = 2,
          unkCharMicro = -20000000L)
        val docs = T.documents(s, d).select(col("doc_id"),
          element_at(wlit, pmod(col("doc_id"), lit(3)).cast("int") + 1)
            .as("text"))
        TextStatsOps.unigramEncodeDocsKernel(docs, "doc_id", "text",
            vocab, unkCharMicro = -20000000L, maxTokenLen = 3)
          .select("doc_id", "n_words", "n_chars", "n_tokens", "recon")
      }
    },
      Some("""WITH seg AS (SELECT i, nt, nc, txt FROM (VALUES
             |    (0, 3, 9, '日本語日本語日本語'),
             |    (1, 2, 4, '学生学生'),
             |    (2, 5, 8, '日本学生日本学生')) t(i, nt, nc, txt))
             |SELECT d.doc_id, CAST(1 AS BIGINT) AS n_words,
             |  CAST(s.nc AS BIGINT) AS n_chars,
             |  CAST(s.nt AS BIGINT) AS n_tokens, s.txt AS recon
             |FROM documents d JOIN seg s ON s.i = d.doc_id % 3""".stripMargin)),

    // BOUNDED-SLICE unigram training (trainUnigramLm maxTrainRows —
    // SentencePiece's --input_sentence_size as a first-class API, the
    // r16 verdict's space-free-corpus remedy): the corpus is 40 rows
    // of 8 planted words (doc_id < 40 of the documents table, so the
    // row MULTISET is identical at every SF while the file layout and
    // partitioning differ) and training sees only the 24 rows that
    // sort first by (xxhash64(text), text). The gate's output is the
    // TRAINED VOCABULARY itself, compared against a frozen expected
    // table — computed once from the hash-order slice composition
    // (recorded below) and held constant: any partitioning-, layout-,
    // or scale-dependence in the slice (or in training downstream of
    // it) changes the vocabulary and hash-fails at one SF or the
    // other. Slice composition by (xxhash64 asc): ananas×5, banana×5,
    // banda×5, dana×5, nana×4 — 24 of 40 rows; bandana, cabana, and
    // anaban fall outside and contribute NOTHING: 'c' is absent from
    // the frozen char set, and the frozen multis (ana, ban, da, na,
    // nas) carry only in-slice mass.
    QueryDef("unigram_train_slice", {
      val wl = Seq("banana", "ananas", "bandana", "cabana", "banda",
        "nana", "anaban", "dana")
      (s, d) => {
        import s.implicits._
        val wlit = typedLit(wl)
        val corpus = T.documents(s, d).filter(col("doc_id") < 40)
          .select(element_at(wlit,
            pmod(col("doc_id"), lit(8)).cast("int") + 1).as("text"))
        val vocab = TextStatsOps.trainUnigramLm(corpus, "text",
          vocabSize = 10, rounds = 2, maxTokenLen = 3, minCount = 1,
          unkCharMicro = -20000000L, maxTrainRows = 24)
        vocab.toSeq.toDF("piece", "score_micro")
      }
    },
      Some("""SELECT piece, CAST(sm AS BIGINT) AS score_micro
             |FROM (VALUES
             |  ('a', -3951244), ('ana', -1312186), ('b', -3951244),
             |  ('ban', -1648659), ('d', -3951244), ('da', -1648659),
             |  ('n', -2564949), ('na', -2341806), ('nas', -2341806),
             |  ('s', -3951244)) t(piece, sm)""".stripMargin)),

    // BOUNDED-SLICE BPE training (bpeTrainMerges maxTrainRows) — the
    // same 24-of-40 hash-order slice and frozen-expected contract as
    // unigram_train_slice, on the merge-table trainer: 4 merges
    // learned from the slice, compared in RANK ORDER (rank is the
    // tokenizer contract). Rank 0 is hand-checkable from the slice
    // composition: weighted 'an' adjacency 34 (banana 2·5 + ananas
    // 2·5 + banda 5 + dana 5 + nana 4) beats 'na' at 33, then the
    // anana chain follows. A slice that drifted with partitioning or
    // SF would see bandana/cabana/anaban mass and elect different
    // pairs — hash-fail.
    QueryDef("bpe_train_slice", {
      val wl = Seq("banana", "ananas", "bandana", "cabana", "banda",
        "nana", "anaban", "dana")
      (s, d) => {
        import s.implicits._
        val wlit = typedLit(wl)
        val corpus = T.documents(s, d).filter(col("doc_id") < 40)
          .select(element_at(wlit,
            pmod(col("doc_id"), lit(8)).cast("int") + 1).as("text"))
        TextStatsOps.bpeTrainMerges(corpus, "text", numMerges = 4,
            maxTrainRows = 24)
          .zipWithIndex.map { case ((a, b), i) => (i, a, b) }
          .toDF("rank", "lhs", "rhs")
      }
    },
      Some("""SELECT CAST(rank AS INTEGER) AS rank, lhs, rhs
             |FROM (VALUES
             |  (0, 'a', 'n'), (1, 'an', 'a'), (2, 'ana', 'n'),
             |  (3, 'anan', 'a')) t(rank, lhs, rhs)""".stripMargin)),

    // The PRODUCTION-vocab training tier (bpeTrainMergesLocal, r17
    // verdict task #5): one distributed word-histogram aggregation +
    // the in-memory incremental merge loop, spec-pinned merge-for-
    // merge equal to bpeTrainMerges (TokenizerKernelSpec). Same
    // corpus, slice, and hand-derived merge oracle as bpe_train_slice
    // — the two gates differ ONLY in which tier trains, so a
    // tie-break, pair-count, or replace-semantics divergence between
    // the tiers hash-fails here against the closed form.
    QueryDef("bpe_train_local", {
      val wl = Seq("banana", "ananas", "bandana", "cabana", "banda",
        "nana", "anaban", "dana")
      (s, d) => {
        import s.implicits._
        val wlit = typedLit(wl)
        val corpus = T.documents(s, d).filter(col("doc_id") < 40)
          .select(element_at(wlit,
            pmod(col("doc_id"), lit(8)).cast("int") + 1).as("text"))
        TextStatsOps.bpeTrainMergesLocal(corpus, "text", numMerges = 4,
            maxTrainRows = 24)
          .zipWithIndex.map { case ((a, b), i) => (i, a, b) }
          .toDF("rank", "lhs", "rhs")
      }
    },
      Some("""SELECT CAST(rank AS INTEGER) AS rank, lhs, rhs
             |FROM (VALUES
             |  (0, 'a', 'n'), (1, 'an', 'a'), (2, 'ana', 'n'),
             |  (3, 'anan', 'a')) t(rank, lhs, rhs)""".stripMargin)),

    // STORAGE-COMPOSED BPE encode — the merge-table twin: the DEMO
    // table (whose encodings have the full independent recursive-CTE
    // fixpoint oracle) crosses parquet via writeBpeMerges/readBpeMerges
    // and the ranked kernel encodes the real documents table from the
    // READ-BACK rules and a vocab derived from them — a swapped rank,
    // a truncated rule, or an order-unstable read changes encodings
    // and hash-fails against the from-spec oracle. (The TRAINED-table
    // round-trip is spec-pinned in TokenizerKernelSpec; the demo table
    // is what keeps this gate's oracle independent.)
    QueryDef("bpe_table_encode",
      (s, d) => {
        val dir = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-llm-bpetab-${ProcessHandle.current().pid()}").toString
        TextStatsOps.writeBpeMerges(s, dir, TextStatsOps.BpeDemoMerges)
        val merges = TextStatsOps.readBpeMerges(s, dir)
        TextStatsOps.bpeEncodeRanked(
          T.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", merges, TextStatsOps.bpeVocab(merges))
      },
      Some(bpeByteFixpointOracle(
        vocabRows = TextStatsOps.bpeVocab().toSeq.sortBy(_._2)
          .map { case (tok, tid) => s"('$tok', $tid)" }.mkString(",\n    "),
        corpusSql = "SELECT doc_id, text FROM documents",
        plantedValues = None))),

    // SOFT-EM unigram training (em = "soft" — the r14 verdict stretch
    // task): the E-step uses forward-backward EXPECTED counts
    // (SentencePiece's actual E-step, Kudo 2018 §3.2) instead of
    // best-path counts, with per-word micro-integer rounding so the
    // corpus aggregation stays an integer sum (layout-invariant).
    // SAME corpus and config as unigram_train_encode, so the two
    // gates differ ONLY in the E-step — and the results demonstrate
    // why soft-EM exists: winner-take-all Viterbi counts elect
    // acho/bana (hard trains banana → [bana, n, a] = 3, nacho → 2)
    // while posterior mass spread over ALL segmentations keeps na/ban
    // scored (soft trains banana → [ban, ana] = 2, nacho → 4 — the
    // per-word totals FLIP between the tiers). The oracle's VALUES are
    // an INDEPENDENT from-spec simulation (seed → 2 soft-EM rounds →
    // prune-to-14 → Viterbi encode):
    //   banana→2  bandana→2  cabana→2  nacho→4 ; anna→1 cab→1 nan→1
    // with the smallest ranking decision at 52 875 micro (round-1
    // prune cut nac vs nach) and the smallest encode margin at
    // 1 457 733 micro (nan) — a 1-ulp exp/log disagreement moves a
    // micro count by ±1 and cannot flip any of them.
    QueryDef("unigram_train_soft", {
      val wl1 = Seq("banana", "bandana", "cabana", "nacho")
      val wl2 = Seq("anna", "cab", "nan")
      (s, d) => {
        val w1 = typedLit(wl1); val w2 = typedLit(wl2)
        val docs = T.documents(s, d).filter(col("doc_id") < 500)
          .select(col("doc_id"), concat_ws(" ",
            element_at(w1, pmod(col("doc_id"), lit(4)).cast("int") + 1),
            element_at(w2, pmod(col("doc_id") + 1, lit(3)).cast("int") + 1))
            .as("text"))
        val vocab = TextStatsOps.trainUnigramLm(docs, "text",
          vocabSize = 14, rounds = 2, maxTokenLen = 4, minCount = 2,
          unkCharMicro = -20000000L, em = "soft")
        docs.select(col("doc_id"),
          TextStatsOps.unigramTokenCountDoc(col("text"), vocab,
            unkCharMicro = -20000000L, maxTokenLen = 4).as("n_tokens"))
      }
    },
      Some("""WITH c1 AS (SELECT i, c FROM (VALUES
             |    (0, 2), (1, 2), (2, 2), (3, 4)) t(i, c)),
             |c2 AS (SELECT j, c FROM (VALUES
             |    (0, 1), (1, 1), (2, 1)) t(j, c))
             |SELECT d.doc_id, CAST(c1.c + c2.c AS BIGINT) AS n_tokens
             |FROM documents d
             |JOIN c1 ON c1.i = d.doc_id % 4
             |JOIN c2 ON c2.j = (d.doc_id + 1) % 3
             |WHERE d.doc_id < 500""".stripMargin)),

    // Unigram COVERAGE report (the encoding-drift signal a curation
    // pipeline watches: the fraction of characters falling back to the
    // unk-char score — a vocabulary trained last month scoring today's
    // crawl): per document, Viterbi token count, unk-char count, and
    // char count, over the SAME planted 7-word corpus and vocabulary
    // as unigram_tokenize, so every number is hand-derived:
    //   theory→[theory](0 unk), thematic→[the,matic](0),
    //   cats→[cat,s](0), dog→[d,o,g](3 of 3 chars unk), ab→[ab](0),
    //   theorys→[theory,s](0), zq→[z,q](2 of 2 unk).
    // This gate runs the DataFrame kernel (unigramEncodeDocsKernel)
    // where unigram_tokenize runs the Column udf — the same Viterbi DP,
    // which TokenizerKernelSpec also pins against a test-scope
    // reference.
    QueryDef("unigram_coverage", {
      val vocab = Map(
        "the" -> -1000000L, "theory" -> -1500000L, "ory" -> -1200000L,
        "matic" -> -1100000L, "cat" -> -900000L, "s" -> -800000L,
        "ab" -> -2000000L, "a" -> -1000000L, "b" -> -1000000L)
      val wl = Seq("theory", "thematic", "cats", "dog", "ab",
        "theorys", "zq")
      (s, d) => {
        val wlit = typedLit(wl)
        val docs = T.documents(s, d).select(col("doc_id"),
          concat_ws(" ",
            element_at(wlit, pmod(col("doc_id"), lit(7)).cast("int") + 1),
            element_at(wlit, pmod(col("doc_id") + 3, lit(7)).cast("int") + 1),
            element_at(wlit,
              pmod(col("doc_id") * 2 + 1, lit(7)).cast("int") + 1))
            .as("text"))
        TextStatsOps.unigramEncodeDocsKernel(docs, "doc_id", "text",
            vocab, unkCharMicro = -10000000L)
          .select("doc_id", "n_tokens", "n_unk_chars", "n_chars")
      }
    },
      Some("""WITH cc AS (SELECT i, c, u, ch FROM (VALUES
             |    (0, 1, 0, 6), (1, 2, 0, 8), (2, 2, 0, 4), (3, 3, 3, 3),
             |    (4, 1, 0, 2), (5, 2, 0, 7), (6, 2, 2, 2))
             |    t(i, c, u, ch))
             |SELECT d.doc_id,
             |  CAST(c1.c + c2.c + c3.c AS BIGINT) AS n_tokens,
             |  CAST(c1.u + c2.u + c3.u AS BIGINT) AS n_unk_chars,
             |  CAST(c1.ch + c2.ch + c3.ch AS BIGINT) AS n_chars
             |FROM documents d
             |JOIN cc c1 ON c1.i = d.doc_id % 7
             |JOIN cc c2 ON c2.i = (d.doc_id + 3) % 7
             |JOIN cc c3 ON c3.i = (d.doc_id * 2 + 1) % 7""".stripMargin)),

    // Unigram ENCODING ROWS (unigramEncodeRowsKernel) — the
    // materialized segmentation artifact, one row per Viterbi piece
    // with 0-based word/piece positions and the unk flag. Same
    // planted corpus and vocabulary as unigram_tokenize/_coverage, so
    // the oracle states every piece row closed-form from the 7
    // hand-derived segmentations: theory→[theory], thematic→
    // [the,matic], cats→[cat,s], dog→[d,o,g] (all unk), ab→[ab],
    // theorys→[theory,s], zq→[z,q] (all unk) — a shifted position, a
    // dropped piece, a wrong tie-break, or a mislabeled fallback each
    // change rows and hash-fail.
    QueryDef("unigram_encode_pieces", {
      val vocab = Map(
        "the" -> -1000000L, "theory" -> -1500000L, "ory" -> -1200000L,
        "matic" -> -1100000L, "cat" -> -900000L, "s" -> -800000L,
        "ab" -> -2000000L, "a" -> -1000000L, "b" -> -1000000L)
      val wl = Seq("theory", "thematic", "cats", "dog", "ab",
        "theorys", "zq")
      (s, d) => {
        val wlit = typedLit(wl)
        val docs = T.documents(s, d).select(col("doc_id"),
          concat_ws(" ",
            element_at(wlit, pmod(col("doc_id"), lit(7)).cast("int") + 1),
            element_at(wlit, pmod(col("doc_id") + 3, lit(7)).cast("int") + 1),
            element_at(wlit,
              pmod(col("doc_id") * 2 + 1, lit(7)).cast("int") + 1))
            .as("text"))
        TextStatsOps.unigramEncodeRowsKernel(docs, "doc_id", "text",
          vocab, unkCharMicro = -10000000L)
      }
    },
      Some("""WITH seg AS (SELECT i, pi, piece, iv FROM (VALUES
             |    (0, 0, 'theory', true),
             |    (1, 0, 'the', true), (1, 1, 'matic', true),
             |    (2, 0, 'cat', true), (2, 1, 's', true),
             |    (3, 0, 'd', false), (3, 1, 'o', false), (3, 2, 'g', false),
             |    (4, 0, 'ab', true),
             |    (5, 0, 'theory', true), (5, 1, 's', true),
             |    (6, 0, 'z', false), (6, 1, 'q', false))
             |    t(i, pi, piece, iv)),
             |w AS (SELECT doc_id, 0 AS word_idx, doc_id % 7 AS i
             |    FROM documents
             |  UNION ALL SELECT doc_id, 1, (doc_id + 3) % 7 FROM documents
             |  UNION ALL SELECT doc_id, 2, (doc_id * 2 + 1) % 7
             |    FROM documents)
             |SELECT w.doc_id, CAST(w.word_idx AS INTEGER) AS word_idx,
             |  CAST(s.pi AS INTEGER) AS piece_idx, s.piece,
             |  s.iv AS in_vocab
             |FROM w JOIN seg s ON s.i = w.i""".stripMargin)),

    // ≥32k-entry TRAINED vocabulary end-to-end (r14 verdict task #1's
    // vocab axis): trainUnigramLm at vocabSize=32768 over a synthetic
    // SF-invariant corpus of 50 000 distinct 4-char words (base-26
    // encodings of 0..49999 — enough distinct Viterbi-used pieces that
    // the final prune fills the full 32 768; require()d in-gate), then
    // the broadcast-HashMap kernel encodes the REAL documents table
    // with it. The trainer's E-steps run the same kernel. The oracle
    // pins the vocab-independent
    // no-corruption contract — every word's pieces concatenate back to
    // the word, in order, with counts — which is exactly what a
    // 33k-entry typedLit plan literal or a lost/duplicated piece row
    // would break; segmentation OPTIMALITY at this scale is pinned by
    // unigram_coverage (closed-form kernel gate) and
    // TokenizerKernelSpec's kernel ≡ reference equality.
    QueryDef("unigram_train_32k",
      (s, d) => {
        val corpus = s.range(50000).select(expr(
          "char(97 + (id DIV 17576) % 26) || char(97 + (id DIV 676) % 26)" +
            " || char(97 + (id DIV 26) % 26) || char(97 + id % 26)")
          .as("text"))
        val vocab = TextStatsOps.trainUnigramLm(corpus, "text",
          vocabSize = 32768, rounds = 1, maxTokenLen = 4, minCount = 1,
          unkCharMicro = -20000000L)
        require(vocab.size >= 32768,
          s"trained vocabulary too small: ${vocab.size} < 32768")
        TextStatsOps.unigramEncodeDocsKernel(T.documents(s, d),
            "doc_id", "text", vocab, unkCharMicro = -20000000L,
            maxTokenLen = 4)
          .select("doc_id", "n_words", "n_chars", "recon")
      },
      Some("""WITH wl AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> '') AS ws
             |  FROM documents)
             |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
             |  CAST(coalesce(list_sum(list_transform(ws, w -> length(w))),
             |    0) AS BIGINT) AS n_chars,
             |  array_to_string(ws, ' ') AS recon
             |FROM wl""".stripMargin)),

    // SPACE-FREE (CJK) unigram encoding — the input class the r15
    // verdict flagged: `\s+`-splitting leaves a whole CJK document as
    // ONE word, so the segmentation quality of the whole gate rides on
    // the backpointer Viterbi being linear AND correct on multi-piece
    // words with no whitespace anchor. Planted 7-string corpus over a
    // CJK vocabulary (maxTokenLen 3), every segmentation hand-derived:
    //   日本語学生 → [日本語, 学生]      (−2.0e6 beats 日本+語学+生 −3.9e6)
    //   日本日本語 → [日本, 日本語]      (−2.2e6)
    //   語学学生   → [語学, 学生]        (−1.7e6)
    //   日本猫     → [日本, 猫(unk)]     (−11.0e6 beats chars −14.0e6)
    //   日本語     → [日本語]            (−1.2e6 beats 日本+語 −3.0e6)
    //   学生学生学生 → [学生]×3          (−2.4e6)
    //   猫犬       → [猫(unk), 犬(unk)]  (no vocab path at all)
    // Runs the broadcast-HashMap ROWS kernel, so the gate pins piece
    // text, positions (word_idx 0 throughout — one "word" per doc),
    // and the unk flag closed-form.
    QueryDef("unigram_encode_nospace", {
      val vocab = Map(
        "日本" -> -1000000L, "日本語" -> -1200000L, "語学" -> -900000L,
        "学生" -> -800000L, "日" -> -2000000L, "本" -> -2000000L,
        "語" -> -2000000L, "学" -> -2000000L, "生" -> -2000000L)
      val wl = Seq("日本語学生", "日本日本語", "語学学生", "日本猫",
        "日本語", "学生学生学生", "猫犬")
      (s, d) => {
        val wlit = typedLit(wl)
        val docs = T.documents(s, d).select(col("doc_id"),
          element_at(wlit, pmod(col("doc_id"), lit(7)).cast("int") + 1)
            .as("text"))
        TextStatsOps.unigramEncodeRowsKernel(docs, "doc_id", "text",
          vocab, unkCharMicro = -10000000L, maxTokenLen = 3)
      }
    },
      Some("""WITH seg AS (SELECT i, pi, piece, iv FROM (VALUES
             |    (0, 0, '日本語', true), (0, 1, '学生', true),
             |    (1, 0, '日本', true), (1, 1, '日本語', true),
             |    (2, 0, '語学', true), (2, 1, '学生', true),
             |    (3, 0, '日本', true), (3, 1, '猫', false),
             |    (4, 0, '日本語', true),
             |    (5, 0, '学生', true), (5, 1, '学生', true),
             |      (5, 2, '学生', true),
             |    (6, 0, '猫', false), (6, 1, '犬', false))
             |    t(i, pi, piece, iv))
             |SELECT d.doc_id, CAST(0 AS INTEGER) AS word_idx,
             |  CAST(s.pi AS INTEGER) AS piece_idx, s.piece,
             |  s.iv AS in_vocab
             |FROM documents d JOIN seg s ON s.i = d.doc_id % 7""".stripMargin)),

    // UNIGRAM byte fallback (unigramEncodeRowsKernel byteFallback =
    // true) — SentencePiece's --byte_fallback on the unigram tier,
    // completing what bpe_byte_fallback covers on the BPE side: a
    // Viterbi piece OUTSIDE the vocabulary (a single code point by
    // construction) expands to one row per UTF-8 byte as <0xNN>,
    // piece_idx re-indexed; in_vocab reports per BYTE TOKEN whether
    // the vocab carries it. Planted 3-string corpus, every
    // segmentation and byte expansion hand-derived (maxTokenLen 2):
    //   ab😀  → [ab] + 😀 (U+1F600, outside vocab) →
    //           <0xF0> <0x9F> <0x98> <0x80>, all in_vocab=false;
    //   ab 汉b → [ab]; word 2 = [汉 (unk), b] with 汉 (U+6C49) →
    //           <0xE6> <0xB1> <0x89> — <0xE6> IS in this vocab
    //           (in_vocab=true: a production byte-fallback vocab
    //           carries all 256 byte tokens) while <0xB1>/<0x89>
    //           honestly report false;
    //   aab   → [a, ab] (score −3M + −1M beats a,a,b at −9M) —
    //           in-vocab pieces are untouched by the mode.
    QueryDef("unigram_byte_fallback", {
      val vocab = Map(
        "ab" -> -1000000L, "a" -> -3000000L, "b" -> -3000000L,
        "<0xE6>" -> -9000000L)
      val wl = Seq("ab😀", "ab 汉b", "aab")
      (s, d) => {
        val wlit = typedLit(wl)
        val docs = T.documents(s, d).select(col("doc_id"),
          element_at(wlit, pmod(col("doc_id"), lit(3)).cast("int") + 1)
            .as("text"))
        TextStatsOps.unigramEncodeRowsKernel(docs, "doc_id", "text",
          vocab, unkCharMicro = -20000000L, maxTokenLen = 2,
          byteFallback = true)
      }
    },
      Some("""WITH seg AS (SELECT i, wi, pi, piece, iv FROM (VALUES
             |    (0, 0, 0, 'ab', true),
             |    (0, 0, 1, '<0xF0>', false), (0, 0, 2, '<0x9F>', false),
             |    (0, 0, 3, '<0x98>', false), (0, 0, 4, '<0x80>', false),
             |    (1, 0, 0, 'ab', true),
             |    (1, 1, 0, '<0xE6>', true), (1, 1, 1, '<0xB1>', false),
             |    (1, 1, 2, '<0x89>', false), (1, 1, 3, 'b', true),
             |    (2, 0, 0, 'a', true), (2, 0, 1, 'ab', true))
             |    t(i, wi, pi, piece, iv))
             |SELECT d.doc_id, CAST(s.wi AS INTEGER) AS word_idx,
             |  CAST(s.pi AS INTEGER) AS piece_idx, s.piece,
             |  s.iv AS in_vocab
             |FROM documents d JOIN seg s ON s.i = d.doc_id % 3""".stripMargin)),

    // Byte-fallback TRAINING (trainUnigramLm byteFallback=true —
    // SentencePiece's --byte_fallback end to end): the 256 <0xNN>
    // byte tokens join the FINAL trained vocabulary (counting toward
    // vocabSize, scored at the unk floor), so encoding with the
    // trained table has ZERO out-of-vocabulary rows — the no-unk
    // contract production byte-level vocabs guarantee. Training is
    // hand-derived (corpus = 100×"abab" + 100×"aba", vocabSize 260 →
    // 4 non-byte slots, mtl 2, 2 rounds): seeds a400 b300 ab300
    // ba200 → round-1 Viterbi [ab,ab]/[ab,a] (ba starves to 0 and
    // drops, b floors at 1) → round-2 repeats → final non-byte vocab
    // {a, b, ab} + the byte alphabet (259 pieces, asserted in-gate).
    // Planted encodes: abab → [ab,ab]; aba → [ab,a] (the [a,ba] path
    // died with ba); "b x😀" → [b] + x(<0x78>) + 😀(4 byte rows) —
    // EVERY row in_vocab=true, including the expansions.
    QueryDef("unigram_train_byte_fallback", {
      val wl = Seq("abab", "aba", "b x😀")
      (s, d) => {
        val wlit = typedLit(wl)
        val train = s.range(200).select(
          element_at(wlit, pmod(col("id"), lit(2)).cast("int") + 1)
            .as("text"))
        val vocab = TextStatsOps.trainUnigramLm(train, "text",
          vocabSize = 260, rounds = 2, maxTokenLen = 2, minCount = 1,
          unkCharMicro = -20000000L, byteFallback = true)
        require(vocab.size == 259 &&
          vocab.get("<0x00>").contains(-20000000L) &&
          vocab.contains("ab") && !vocab.contains("ba"),
          s"byte-fallback vocab drifted: size ${vocab.size}")
        val docs = T.documents(s, d).select(col("doc_id"),
          element_at(wlit, pmod(col("doc_id"), lit(3)).cast("int") + 1)
            .as("text"))
        TextStatsOps.unigramEncodeRowsKernel(docs, "doc_id", "text",
          vocab, unkCharMicro = -20000000L, maxTokenLen = 2,
          byteFallback = true)
      }
    },
      Some("""WITH seg AS (SELECT i, wi, pi, piece FROM (VALUES
             |    (0, 0, 0, 'ab'), (0, 0, 1, 'ab'),
             |    (1, 0, 0, 'ab'), (1, 0, 1, 'a'),
             |    (2, 0, 0, 'b'),
             |    (2, 1, 0, '<0x78>'), (2, 1, 1, '<0xF0>'),
             |    (2, 1, 2, '<0x9F>'), (2, 1, 3, '<0x98>'),
             |    (2, 1, 4, '<0x80>'))
             |    t(i, wi, pi, piece))
             |SELECT d.doc_id, CAST(s.wi AS INTEGER) AS word_idx,
             |  CAST(s.pi AS INTEGER) AS piece_idx, s.piece,
             |  TRUE AS in_vocab
             |FROM documents d JOIN seg s ON s.i = d.doc_id % 3""".stripMargin)),

    // UNIGRAM decode round-trip over the WHOLE corpus
    // (unigramDecodeRows — the unigram twin of bpe_decode_roundtrip):
    // every document encodes with a deliberately tiny vocabulary and
    // byteFallback=true (so nearly every piece rides the byte
    // alphabet) and decodes back from the piece rows alone; the
    // oracle is the documents table under the SAME whitespace
    // normalization the unigram tier applies at encode time (words =
    // \s+ split, rejoined by single spaces — the explicit char class
    // on the DuckDB side matches Java's \s exactly). Byte expansion
    // makes each word's reconstruction byte-exact, emoji and genuine
    // marker letters included.
    QueryDef("unigram_decode_roundtrip",
      (s, d) => {
        import s.implicits._
        val planted = Seq(
          (930001L, "čau  světe\tdvojité  mezery"),
          (930002L, " leading and trailing 😀 "),
          (930003L, "tab\the 汉語 mix")
        ).toDF("doc_id", "text")
        val docs = T.documents(s, d).select("doc_id", "text")
          .unionByName(planted)
        val vocab = Map("the" -> -1000000L, "a" -> -2000000L,
          "e" -> -2100000L)
        val enc = TextStatsOps.unigramEncodeRowsKernel(docs, "doc_id",
          "text", vocab, unkCharMicro = -20000000L, maxTokenLen = 3,
          byteFallback = true)
        TextStatsOps.unigramDecodeRows(enc, "doc_id")
      },
      Some("""WITH src AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT * FROM (VALUES
             |    (930001, 'čau  světe' || chr(9) || 'dvojité  mezery'),
             |    (930002, ' leading and trailing 😀 '),
             |    (930003, 'tab' || chr(9) || 'he 汉語 mix')
             |  ) v(doc_id, text)),
             |norm AS (SELECT doc_id,
             |    trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))
             |      AS text
             |  FROM src WHERE text IS NOT NULL)
             |SELECT doc_id, text FROM norm WHERE length(text) > 0"""
        .stripMargin)),

    // MMR diversified top-k (SimilarityOps.mmrTopK) — greedy maximal
    // marginal relevance: each of the 3 rounds is one corpus scan
    // ending in a 1-row TakeOrderedAndProject, the selected embeddings
    // ride the plan as literals, and the penalty column grows one
    // `greatest` term per round. The oracle replays all three greedy
    // rounds as chained LIMIT-1 CTEs with the identical IEEE
    // arithmetic (λ = 0.5 — dyadic, so λ·sim and (1−λ)·penalty are
    // exact), ties to the lowest id on both sides.
    QueryDef("mmr_topk",
      (s, d) => {
        val emb = T.embeddings(s, d)
        val q = emb.filter(col("vec_id") === 0)
          .select(SimilarityOps.toDoubleArr(col("embedding")))
          .collect()(0).getSeq[Double](0).toArray // one query vector
        SimilarityOps.mmrTopK(emb.filter(col("vec_id") =!= 0), q, 3, 0.5)
          .select(col("rank"), col("vec_id"),
            round(col("mmr_score"), 6).as("mmr_score"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT e AS qe FROM c WHERE vec_id = 0),
             |base AS (SELECT vec_id, e,
             |    list_dot_product(e, qe) /
             |    (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))) AS sq
             |  FROM c, q WHERE vec_id != 0),
             |s1 AS (SELECT vec_id, e, sq, sq * 0.5 AS sc FROM base
             |  ORDER BY sq * 0.5 DESC, vec_id LIMIT 1),
             |b2 AS (SELECT b.vec_id, b.e, b.sq,
             |    list_dot_product(b.e, s1.e) /
             |    (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(s1.e, s1.e))) AS m
             |  FROM base b, s1 WHERE b.vec_id != s1.vec_id),
             |s2 AS (SELECT vec_id, e, sq, m, sq * 0.5 - m * 0.5 AS sc FROM b2
             |  ORDER BY sq * 0.5 - m * 0.5 DESC, vec_id LIMIT 1),
             |b3 AS (SELECT b.vec_id, b.sq,
             |    greatest(b.m, list_dot_product(b.e, s2.e) /
             |      (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(s2.e, s2.e)))) AS m
             |  FROM b2 b, s2 WHERE b.vec_id != s2.vec_id),
             |s3 AS (SELECT vec_id, sq * 0.5 - m * 0.5 AS sc FROM b3
             |  ORDER BY sq * 0.5 - m * 0.5 DESC, vec_id LIMIT 1)
             |SELECT 1 AS rank, vec_id, round(sc, 6) AS mmr_score FROM s1
             |UNION ALL SELECT 2, vec_id, round(sc, 6) FROM s2
             |UNION ALL SELECT 3, vec_id, round(sc, 6) FROM s3""".stripMargin)),

    QueryDef("embedding_stats",
      (s, d) => {
        val e = SimilarityOps.toDoubleArr(col("embedding"))
        T.embeddings(s, d).select(col("vec_id"),
          round(SimilarityOps.l2Norm(e), 6).as("l2"),
          round(aggregate(e, lit(0.0), (acc, x) => acc + x) / size(col("embedding")), 6)
            .as("mean_comp"),
          size(filter(e, x => abs(x) > 0.1)).as("n_large"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
             |SELECT vec_id, round(sqrt(list_dot_product(e, e)), 6) AS l2,
             |  round(list_aggregate(e, 'sum') / len(e), 6) AS mean_comp,
             |  len(list_filter(e, x -> abs(x) > 0.1)) AS n_large
             |FROM c""".stripMargin)),

    // Same search through the native codegen'd Catalyst expression
    // (graft.functions.CosineSimilarity) — bit-identical to the
    // zip_with/aggregate composition, so it shares the oracle.
    QueryDef("cosine_topk_native",
      (s, d) => {
        graft.functions.CosineSimilarity.register(s)
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val scored = broadcast(queries).crossJoin(emb)
          .filter(col("q_id") =!= col("vec_id"))
          .withColumn("score", expr("cosine_sim(q_emb, embedding)"))
        SimilarityOps.topKPerQuery(scored, "q_id", "vec_id", 3)
          .select(col("q_id"), col("vec_id"), round(col("score"), 6).as("score"),
            col("rn"))
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS q_id, e AS q_e FROM c WHERE vec_id < 5),
             |scored AS (SELECT q_id, vec_id,
             |    list_dot_product(q_e, e) /
             |    (sqrt(list_dot_product(q_e, q_e)) * sqrt(list_dot_product(e, e))) AS score
             |  FROM q CROSS JOIN c WHERE vec_id != q_id)
             |SELECT q_id, vec_id, round(score, 6) AS score, rn FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
             |  FROM scored) WHERE rn <= 3""".stripMargin)),

    // Multimodal plumbing: binary payload + metadata (decode is stubbed;
    // see MultimodalOps for the batched mapPartitions kernel).
    QueryDef("binary_meta",
      (s, d) => T.documents(s, d).select(col("doc_id"),
        octet_length(col("text").cast("binary")).as("byte_len"),
        md5(col("text").cast("binary")).as("digest"),
        base64(substring(col("text"), 1, 8).cast("binary")).as("head_b64")),
      Some("""SELECT doc_id, octet_length(encode(text)) AS byte_len,
             |  md5(text) AS digest,
             |  to_base64(encode(substr(text, 1, 8))) AS head_b64
             |FROM documents""".stripMargin)),

    // BM25 lexical top-k (TextSearchOps.bm25TopK): per-doc tf is
    // row-local HOF arithmetic; corpus stats (N, avgdl, per-term df) are
    // ONE scalar row broadcast back; top-k is TakeOrderedAndProject.
    // The oracle interpolates the exact Scala doubles for k1/b so both
    // engines evaluate bit-identical constants (then round(6)).
    QueryDef("bm25_topk", {
      val (k1, b) = (1.2, 0.75)
      (s: SparkSession, d: String) =>
        graft.llm.TextSearchOps.bm25TopK(T.documents(s, d), "doc_id", "text",
          Seq("spark", "merge", "window"), 20, k1, b)
    }, {
      val (k1, b) = (1.2, 0.75)
      def term(i: Int) =
        s"""ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * tf$i * ${k1 + 1} /
           |    (tf$i + $k1 * (${1 - b} + $b * dl / avgdl))""".stripMargin
      Some(s"""WITH t AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS w
              |  FROM documents),
              |pd AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
              |  CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
              |  CAST(len(list_filter(w, x -> x = 'merge')) AS DOUBLE) AS tf1,
              |  CAST(len(list_filter(w, x -> x = 'window')) AS DOUBLE) AS tf2
              |  FROM t),
              |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
              |  sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
              |  sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
              |  sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
              |  FROM pd)
              |SELECT doc_id, round(${term(0)} + ${term(1)} + ${term(2)}, 6) AS score
              |FROM pd CROSS JOIN st
              |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
              |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)
    }),

    // Per-doc TF-IDF keyword extraction (TextSearchOps.tfIdfTopTerms):
    // one token explode → map-side-combined (doc, term) count; df
    // aggregates from that count and joins back broadcast (vocabulary ≪
    // corpus); per-doc top-n is a doc-partitioned rank.
    QueryDef("tfidf_top_terms",
      (s, d) => graft.llm.TextSearchOps.tfIdfTopTerms(
        T.documents(s, d), "doc_id", "text", 3),
      Some(s"""WITH t AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS w
              |  FROM documents),
              |tok AS (SELECT doc_id, unnest(w) AS term, len(w) AS dl FROM t),
              |tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
              |  FROM tok GROUP BY 1, 2),
              |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
              |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
              |sc AS (SELECT doc_id, term,
              |    round(CAST(tf AS DOUBLE) / dl * ln(n / df), 6) AS tfidf
              |  FROM tf JOIN df USING (term) CROSS JOIN n)
              |SELECT doc_id, term, tfidf, rn FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
              |  FROM sc) WHERE rn <= 3""".stripMargin)),

    // Cross-document boilerplate-line removal (CCNet/RefinedWeb step,
    // TextSearchOps.removeBoilerplateLines). The fixture text has no
    // line structure, so lines are planted deterministically (same
    // construction in the oracle — the pii_redact pattern): a footer in
    // every doc and a second one in every 7th; both cross the minDocs=50
    // threshold and must vanish, the per-doc unique tail must survive.
    QueryDef("boilerplate_lines",
      (s, d) => {
        val planted = T.documents(s, d).select(col("doc_id"),
          concat_ws("\n", col("text"), lit("subscribe to our newsletter"),
            when(pmod(col("doc_id"), lit(7)) === 0,
              lit("all rights reserved footer"))
              .otherwise(concat(lit("unique tail "), col("doc_id"))))
            .as("text2"))
        graft.llm.TextSearchOps.removeBoilerplateLines(
          planted, "doc_id", "text2", "\n", minDocs = 50)
      },
      Some("""WITH p AS (SELECT doc_id,
             |    text || chr(10) || 'subscribe to our newsletter' || chr(10) ||
             |    CASE WHEN doc_id % 7 = 0 THEN 'all rights reserved footer'
             |         ELSE 'unique tail ' || doc_id END AS text2
             |  FROM documents),
             |l AS (SELECT doc_id, unnest(string_split(text2, chr(10))) AS line,
             |    generate_subscripts(string_split(text2, chr(10)), 1) AS pos
             |  FROM p),
             |f AS (SELECT line FROM l GROUP BY line
             |  HAVING count(DISTINCT doc_id) >= 50),
             |k AS (SELECT l.* FROM l ANTI JOIN f USING (line))
             |SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS clean
             |FROM k GROUP BY doc_id""".stripMargin)),

    // Exact substring-span dedup (Lee et al. 2022 tier;
    // TextDedupOps.removeDuplicateSpans): remove every token covered by
    // a 30-token window occurring in ≥2 distinct docs. The fixture's
    // documents table contains driver-planted NEAR-duplicates that
    // genuinely share long spans (~120 docs affected at sf0.001, 20 of
    // them fully covered), plus a 40-token passage planted here onto
    // every 5th doc (windows straddling the splice contain each doc's
    // unique tail — precision as well as recall is exercised). The
    // oracle is a full INDEPENDENT DuckDB implementation of the same
    // semantics — window content equality (not Spark's xxhash64),
    // range-join coverage, ordered reassembly — so both over- and
    // under-removal anywhere in the corpus break the match.
    QueryDef("substring_dedup",
      (s, d) => {
        val passage = (1 to 40).map(i => s"boiler$i").mkString(" ")
        val planted = T.documents(s, d).select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat_ws(" ", col("text"), lit(passage)))
            .otherwise(col("text")).as("text2"))
        TextDedupOps.removeDuplicateSpans(planted, "doc_id", "text2", w = 30)
      },
      Some {
        val passageSql =
          (1 to 40).map(i => s"boiler$i").mkString(" ")
        s"""WITH p AS (SELECT doc_id,
           |    CASE WHEN doc_id % 5 = 0 THEN text || ' ' || '$passageSql'
           |         ELSE text END AS text2
           |  FROM documents),
           |t AS (SELECT doc_id, string_split(${normSql("text2")}, ' ') AS w FROM p),
           |wins AS (SELECT doc_id, unnest(generate_series(1, len(w) - 29)) AS q, w
           |  FROM t),
           |wc AS (SELECT doc_id, q,
           |    array_to_string(list_slice(w, q, q + 29), ' ') AS win FROM wins),
           |dup AS (SELECT win FROM wc GROUP BY win
           |  HAVING count(DISTINCT doc_id) >= 2),
           |ds AS (SELECT wc.doc_id, wc.q FROM wc JOIN dup USING (win)),
           |tok AS (SELECT doc_id, unnest(w) AS tokn,
           |    generate_subscripts(w, 1) AS pos FROM t),
           |rem AS (SELECT DISTINCT tok.doc_id, tok.pos FROM ds
           |  JOIN tok ON tok.doc_id = ds.doc_id
           |    AND tok.pos BETWEEN ds.q AND ds.q + 29),
           |kept AS (SELECT tok.doc_id, tok.pos, tok.tokn
           |  FROM tok ANTI JOIN rem USING (doc_id, pos)),
           |re AS (SELECT doc_id,
           |    array_to_string(list(tokn ORDER BY pos), ' ') AS clean
           |  FROM kept GROUP BY doc_id)
           |SELECT t.doc_id, coalesce(re.clean, '') AS clean
           |FROM t LEFT JOIN re USING (doc_id)""".stripMargin
      }),

    // Corpus-wide top-bigram report (LmOps.bigramCounts + distributed
    // top-k): the collocation table a curation run publishes next to
    // its Gopher/C4 stats — one map-side-combined aggregation over the
    // exploded bigram stream, then TakeOrderedAndProject (no global
    // sort); count-desc, bigram-asc deterministic ties. Also the
    // standing witness that the LM training aggregation itself is
    // exact: the oracle recounts every bigram from scratch.
    QueryDef("top_bigrams",
      (s, d) => {
        import graft.llm.LmOps
        LmOps.bigramCounts(T.documents(s, d), "doc_id", "text")
          .select(col("bg"), col("__c").as("cnt"))
          .orderBy(col("cnt").desc, col("bg").asc).limit(20)
      },
      Some("""WITH w AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
             |  FROM documents),
             |big AS (SELECT doc_id, unnest(list_transform(
             |      generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])) AS bg
             |  FROM w WHERE len(w) >= 2)
             |SELECT bg, CAST(count(*) AS BIGINT) AS cnt FROM big
             |GROUP BY bg ORDER BY cnt DESC, bg ASC LIMIT 20""".stripMargin)),

    // Per-source corpus report — the datasheet table every curation
    // run publishes (docs, word mass, length spread, distinct-content
    // count per source). The exact count(DISTINCT md5) makes Catalyst
    // plan TWO keyed shuffles — a partial-combined aggregate on
    // (source, fingerprint) then the per-source rollup — the standard
    // exact-distinct price; at 100 TB swap in approx_count_distinct
    // for a one-shuffle sketch when ±2% is acceptable. All integers —
    // engine-exact.
    QueryDef("corpus_report",
      (s, d) => T.documents(s, d)
        .select(col("source"),
          size(TextStatsOps.words(col("text"))).cast("long").as("__w"),
          md5(col("text")).as("__fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__w")).as("total_words"),
          min(col("__w")).as("min_words"),
          max(col("__w")).as("max_words"),
          countDistinct(col("__fp")).as("n_distinct")),
      Some("""SELECT source,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(w) AS BIGINT) AS total_words,
             |  CAST(min(w) AS BIGINT) AS min_words,
             |  CAST(max(w) AS BIGINT) AS max_words,
             |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct
             |FROM (SELECT source,
             |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS w,
             |    md5(text) AS fp
             |  FROM documents) GROUP BY source""".stripMargin)),

    // Raw-HTML → text extraction (TextStatsOps.stripHtml) — the step
    // BEFORE every text filter in a web-crawl pipeline: each document
    // is wrapped in a planted page (style block, script with embedded
    // '<' and quotes, entities, block closers) and stripped back to
    // prose. The oracle replays the IDENTICAL regexp chain in DuckDB —
    // the patterns are deliberately RE2-safe (no backreferences) so
    // one chain serves both engines; a divergence in block removal,
    // entity order (&amp; must decode last), or newline synthesis
    // hash-fails.
    QueryDef("html_strip",
      (s, d) => {
        val html = concat(
          lit("<html><head><style>p {color:red}</style></head><body><h1>Doc "),
          col("doc_id"),
          lit("</h1>\n<p>"), col("text"),
          lit("</p><br><div>tail &amp; x &lt; y&nbsp;z</div>" +
            "<script>var i = 1 < 2; s = \"q\";</script></body></html>"))
        T.documents(s, d).select(col("doc_id"),
          TextStatsOps.stripHtml(html).as("clean"))
      },
      Some("""WITH h AS (SELECT doc_id,
             |    '<html><head><style>p {color:red}</style></head><body><h1>Doc '
             |    || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) || '<p>'
             |    || text || '</p><br><div>tail &amp; x &lt; y&nbsp;z</div>'
             |    || '<script>var i = 1 < 2; s = "q";</script></body></html>'
             |      AS html FROM documents),
             |s1 AS (SELECT doc_id, regexp_replace(regexp_replace(html,
             |    '(?si)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
             |    '(?si)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS t FROM h),
             |s2 AS (SELECT doc_id, regexp_replace(t,
             |    '(?i)<br\s*/?>|</(p|div|li|tr|h[1-6])\s*>', chr(10), 'g') AS t
             |  FROM s1),
             |s3 AS (SELECT doc_id, regexp_replace(t,
             |    '(?s)</?[A-Za-z][^>]*>', ' ', 'g') AS t FROM s2),
             |s4 AS (SELECT doc_id, regexp_replace(regexp_replace(
             |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             |    t, '&lt;', '<', 'g'), '&gt;', '>', 'g'),
             |    '&quot;', '"', 'g'), '&#39;', chr(39), 'g'),
             |    '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS t FROM s3)
             |SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
             |    t, '[ \t]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'),
             |    '^\s+|\s+$', '', 'g') AS clean FROM s4""".stripMargin)),

    // Sentence segmentation (TextStatsOps.sentences) — terminal
    // punctuation at end-of-word positions, the span-producing twin of
    // c4Clean's sentence counter: one row per non-empty trimmed
    // sentence with its 0-based position. Row-local split+HOF, zero
    // shuffle; the oracle replays the same RE2-safe pattern.
    QueryDef("sentence_split",
      (s, d) => T.documents(s, d).select(col("doc_id"),
        posexplode(TextStatsOps.sentences(col("text")))
          .as(Seq("pos", "sentence"))),
      Some("""WITH t AS (SELECT doc_id, list_filter(list_transform(
             |    regexp_split_to_array(text, '[.!?]+(\s+|$)'),
             |    x -> trim(x)), x -> x <> '') AS s FROM documents)
             |SELECT doc_id, CAST(generate_subscripts(s, 1) - 1 AS INT) AS pos,
             |  unnest(s) AS sentence FROM t""".stripMargin)),

    // Corpus snapshot diff (TextDedupOps.corpusDiff) — the
    // data-versioning audit between two ingests: planted versions
    // remove every 13th document, add every 11th (absent from "old"),
    // and mutate every 7th's text; the full-outer fingerprint join
    // classifies every id as added/removed/changed/unchanged. The
    // oracle replays the versions and compares NORMALIZED text directly
    // (the fingerprint is md5-of-normalized on both engines, so text
    // equality ⇔ fingerprint equality); a misclassified id or a lost
    // side of the outer join hash-fails.
    QueryDef("corpus_diff",
      (s, d) => {
        val docs = T.documents(s, d)
        val oldV = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
        val newV = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
          .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        TextDedupOps.corpusDiff(oldV, newV, "doc_id", "text")
      },
      Some(s"""WITH o AS (SELECT doc_id, text FROM documents
              |  WHERE doc_id % 11 <> 0),
              |n AS (SELECT doc_id,
              |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
              |  FROM documents WHERE doc_id % 13 <> 0)
              |SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
              |  CASE WHEN o.doc_id IS NULL THEN 'added'
              |       WHEN n.doc_id IS NULL THEN 'removed'
              |       WHEN ${normSql("o.text")} IS NOT DISTINCT FROM ${normSql("n.text")}
              |         THEN 'unchanged'
              |       ELSE 'changed' END AS status
              |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin)),

    // Stupid-backoff longest-match levels (LmOps.backoffMatchLevels —
    // Brants et al. 2007): per document, every trigram position is
    // classified by its longest reference-attested suffix (trigram /
    // bigram / unigram / OOV) against count tables trained on the
    // doc_id%7 reference slice. The level histogram is the
    // integer-exact core of the backoff score; the oracle retrains all
    // three n-gram sets and replays the CASE cascade per position. A
    // dropped position, a wrong context window, or a level cascade
    // ordering bug hash-fails.
    QueryDef("lm_backoff_levels",
      (s, d) => {
        import graft.llm.LmOps
        val docs = T.documents(s, d)
        val ref = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        LmOps.backoffMatchLevels(docs, ref, "doc_id", "text")
      },
      Some("""WITH w AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
             |  FROM documents),
             |tri AS (SELECT doc_id, w[i-2] || ' ' || w[i-1] || ' ' || w[i] AS tg,
             |    w[i-1] || ' ' || w[i] AS bg, w[i] AS ug
             |  FROM (SELECT doc_id, w, unnest(generate_series(3, len(w))) AS i
             |        FROM w WHERE len(w) >= 3)),
             |refw AS (SELECT w FROM w WHERE doc_id % 7 = 0),
             |tgs AS (SELECT DISTINCT unnest(list_transform(
             |    generate_series(3, len(w)),
             |    i -> w[i-2] || ' ' || w[i-1] || ' ' || w[i])) AS tg
             |  FROM refw WHERE len(w) >= 3),
             |bgs AS (SELECT DISTINCT unnest(list_transform(
             |    generate_series(1, len(w) - 1),
             |    i -> w[i] || ' ' || w[i+1])) AS bg
             |  FROM refw WHERE len(w) >= 2),
             |ugs AS (SELECT DISTINCT unnest(w) AS ug FROM refw),
             |lv AS (SELECT tri.doc_id,
             |    CASE WHEN tgs.tg IS NOT NULL THEN 3
             |         WHEN bgs.bg IS NOT NULL THEN 2
             |         WHEN ugs.ug IS NOT NULL THEN 1 ELSE 0 END AS level
             |  FROM tri LEFT JOIN tgs USING (tg)
             |    LEFT JOIN bgs USING (bg) LEFT JOIN ugs USING (ug)),
             |sc AS (SELECT doc_id, count(*) AS n_pos,
             |    sum(CASE WHEN level = 3 THEN 1 ELSE 0 END) AS l3,
             |    sum(CASE WHEN level = 2 THEN 1 ELSE 0 END) AS l2,
             |    sum(CASE WHEN level = 1 THEN 1 ELSE 0 END) AS l1,
             |    sum(CASE WHEN level = 0 THEN 1 ELSE 0 END) AS oov
             |  FROM lv GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CAST(coalesce(sc.n_pos, 0) AS BIGINT) AS n_pos,
             |  CAST(coalesce(sc.l3, 0) AS BIGINT) AS l3,
             |  CAST(coalesce(sc.l2, 0) AS BIGINT) AS l2,
             |  CAST(coalesce(sc.l1, 0) AS BIGINT) AS l1,
             |  CAST(coalesce(sc.oov, 0) AS BIGINT) AS oov
             |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin)),

    // Bigram-LM reference-overlap filter (LmOps.lmOverlapScore) — the
    // CCNet/FineWeb perplexity-filter tier in its integer-exact,
    // engine-portable form: train bigram counts on a reference slice
    // (every 7th document), score EVERY document by joining its bigram
    // stream against the counts, keep documents with ≥50% of adjacent
    // word pairs attested in the reference. Counts, masses, and the
    // cross-multiplied keep are all BIGINT/boolean — no log, no libm
    // divergence; the real log-space lmPerplexity is spec-pinned in
    // LmSpec against a driver-replayed reference. The oracle retrains
    // the same counts and replays the same left-join rollup; a dropped
    // bigram, an off-by-one slice bound, or a miscounted hit mass
    // hash-fails.
    QueryDef("lm_bigram_filter",
      (s, d) => {
        import graft.llm.LmOps
        val docs = T.documents(s, d)
        val ref = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        LmOps.lmOverlapScore(docs, ref, "doc_id", "text")
      },
      Some("""WITH w AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
             |  FROM documents),
             |big AS (SELECT doc_id, unnest(list_transform(
             |      generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])) AS bg
             |  FROM w WHERE len(w) >= 2),
             |refc AS (SELECT bg, count(*) AS c FROM big
             |  WHERE doc_id % 7 = 0 GROUP BY bg),
             |sc AS (SELECT b.doc_id,
             |    count(*) AS n_bigrams,
             |    count(r.c) AS hit_bigrams,
             |    coalesce(sum(r.c), 0) AS hit_mass
             |  FROM big b LEFT JOIN refc r USING (bg) GROUP BY b.doc_id)
             |SELECT d.doc_id,
             |  CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             |  CAST(coalesce(sc.hit_bigrams, 0) AS BIGINT) AS hit_bigrams,
             |  CAST(coalesce(sc.hit_mass, 0) AS BIGINT) AS hit_mass,
             |  coalesce(sc.hit_bigrams, 0) * 2 >= coalesce(sc.n_bigrams, 0) AS keep
             |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin))
  )
}

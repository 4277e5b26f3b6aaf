package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Tokenizer-vocabulary operators — the "train a vocab, encode the corpus"
  * step of an LLM data pipeline (the whitespace-token analog of building a
  * BPE/WordPiece vocab and running the encoder over every document).
  *
  * Three stages, each its own oracle-checked query:
  *  - `text_vocab_build`: corpus token counts → deterministic top-K vocab
  *    with dense ids (1 = most frequent; count-desc, token-asc tiebreak).
  *  - `text_oov_rate`: per-document out-of-vocabulary fraction against
  *    that vocab (integer basis points) — the coverage metric a tokenizer
  *    team watches when a vocab meets a new corpus.
  *  - `text_token_ids`: the encoder itself — each document's leading
  *    tokens mapped to vocab ids (0 = UNK), order-preserved.
  *
  * Scale design: token counting is one explode + one map-side-combined
  * shuffle on the token (the reducer sees distinct tokens, not token
  * occurrences). Top-K selection is a TakeOrderedAndProject — per-partition
  * heaps, never a global sort — so vocab build touches no single-machine
  * bottleneck at any corpus size. The K-row vocab then BROADCASTS to the
  * encode/coverage joins: per-document work is embarrassingly parallel and
  * shuffles only the per-doc rollup. At 100 TB the only wide exchange in
  * this file is the distinct-token aggregate, whose cardinality is the
  * vocabulary of the corpus (millions), not its token count (trillions).
  */
object Vocab extends Module {

  /** Vocabulary size (top-K tokens by corpus frequency). */
  val VocabSize = 100

  /** Leading tokens encoded per document by `text_token_ids`. */
  val EncodeLen = 8

  private def toks: Column = split(trim(col("text")), " ")

  /** Corpus token counts → (token, n) — one cheap rollup of the shared
    * term-frequency frame (TokShared; Σtf ≡ the occurrence count the
    * explode+groupBy used to recompute per consumer). */
  private def tokenCounts(s: SparkSession, dir: String): DataFrame =
    TokShared.tokenCounts(s, dir).select(col("tok").as("token"), col("n"))

  /** Top-K vocab with dense ids. The orderBy+limit lowers to
    * TakeOrderedAndProject (distributed per-partition top-K heaps); the
    * row_number window then runs over K rows only, so its single
    * partition is a constant-size post-processing step, not a scale
    * hazard. One per (session, dataset): three registry consumers
    * broadcast the same K-row artifact. */
  private val vocab = new graft.Caches.SessionMemo[String, DataFrame]((s, dir) =>
      graft.Caches.shared(
        tokenCounts(s, dir)
          .orderBy(col("n").desc, col("token")).limit(VocabSize)
          .withColumn("token_id",
            row_number().over(Window.orderBy(col("n").desc, col("token")))
              .cast("long"))))

  /** Oracle CTE fragment mirroring `vocab` (shared by all three queries so
    * the SQL twins cannot drift from each other). */
  private val vocabCte: String =
    s"""tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
       |c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
       |v AS (SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS token_id
       |      FROM c QUALIFY token_id <= $VocabSize)""".stripMargin

  /** Materialize the shared K-row vocab (bench warmup). */
  def warmShared(s: SparkSession, dir: String): Unit = {
    vocab(s, dir); ()
  }

  val queries: Map[String, Q] = Map(
    // Deterministic top-K vocabulary: (token_id, token, n), id 1 = most
    // frequent, count-desc token-asc tiebreak.
    "text_vocab_build" -> ((s, dir) =>
      vocab(s, dir)
        .select(col("token_id"), col("token"), col("n"))
        .orderBy(col("token_id"))),

    // Per-document OOV fraction vs the top-K vocab, in truncated integer
    // basis points. One explode + one BROADCAST left join (the vocab is K
    // rows) + one keyed rollup — linear in corpus tokens, no pair joins.
    "text_oov_rate" -> ((s, dir) => {
      // per-doc occurrence totals = Σtf off the shared frame (the
      // vocab side is the memoized K-row artifact)
      val marked = TokShared.tf(s, dir)
        .select(col("doc_id"), col("tok").as("token"), col("tf"))
        .join(broadcast(vocab(s, dir).select(col("token"), lit(1).as("in_v"))),
          Seq("token"), "left")
      val bp = col("n_oov") * 10000
      marked.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(when(col("in_v").isNull, col("tf")).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          ((bp - bp % col("n_tokens")) / col("n_tokens")).cast("long").as("oov_bp"))
        .orderBy(col("doc_id"))
    }),

    // The encoder: each document's first EncodeLen tokens → vocab ids
    // (0 = UNK), order preserved, rendered as a space-joined id string.
    // posexplode carries the position through the broadcast join; the
    // per-doc collect_list is bounded at EncodeLen elements.
    "text_token_ids" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(slice(toks, 1, EncodeLen)).as(Seq("pos", "token")))
        .join(broadcast(vocab(s, dir).select(col("token"), col("token_id"))),
          Seq("token"), "left")
        .withColumn("tid", coalesce(col("token_id"), lit(0L)))
        .groupBy(col("doc_id"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
            x => x.getField("tid").cast("string")), " ").as("ids"))
        .orderBy(col("doc_id")))
  )

  val oracle: Map[String, String] = Map(
    "text_vocab_build" ->
      s"""WITH $vocabCte
         |SELECT CAST(token_id AS BIGINT) AS token_id, token, n
         |FROM v ORDER BY token_id""".stripMargin,

    "text_oov_rate" ->
      s"""WITH $vocabCte,
         |j AS (SELECT t.doc_id,
         |        CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
         |      FROM tok t LEFT JOIN v ON t.token = v.token)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(oov) AS BIGINT) AS n_oov,
         |  CAST(sum(oov) * 10000 // count(*) AS BIGINT) AS oov_bp
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_token_ids" ->
      s"""WITH $vocabCte,
         |t AS (SELECT doc_id, $toksSql AS ts FROM documents),
         |e AS (SELECT doc_id,
         |        unnest(ts[1:$EncodeLen]) AS token,
         |        unnest(range(1, least(len(ts), $EncodeLen) + 1)) AS pos
         |      FROM t),
         |j AS (SELECT e.doc_id, e.pos, coalesce(v.token_id, 0) AS tid
         |      FROM e LEFT JOIN v ON e.token = v.token)
         |SELECT doc_id,
         |  string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS ids
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}

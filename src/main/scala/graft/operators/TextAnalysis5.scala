package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Fifth text batch: STATISTICAL-LM QUALITY FILTERING as a PRODUCTION
  * GATE — the registered-twin complement of `pipeline_lm_score`
  * (Pipeline3), deliberately NOT a duplicate: that lane is the
  * ANALYSIS form (per-doc mean-ln fluency score, r4-rounded float, no
  * decision, model never materialized), while a CCNet-style pipeline
  * needs the FILTER form — a trained model that exists as a verified
  * artifact (reused across corpus versions, shipped to the scoring
  * fleet) and a per-document KEEP/DROP decision that is exactly
  * reproducible. Floats can't carry a filtering decision (a score a
  * hair from the threshold flips across engines/runs — the
  * SemDedupTau lesson), so this tier pins the model once and decides
  * in integers. The production model is a 5-gram KenLM; the
  * Spark-native re-expression is a Laplace-smoothed BIGRAM model —
  * the same shuffle/broadcast skeleton at any n, with the model table
  * growing V^(n-1)-fold while the corpus-side plan is unchanged.
  *
  * FLOAT DISCIPLINE (the reason this is two queries): the only
  * non-exact arithmetic is one `ln` per model row. Cross-engine `ln`
  * is not bit-pinned (unlike sqrt/div — NOTES #14), so each model
  * row's nll is pinned ONCE, in Spark, to an integer micro-nat grain,
  * and every downstream consumer — including the per-doc score — is
  * pure integer arithmetic over that pinned table. The oracles split
  * accordingly: `text_lm_train`'s oracle replays every COUNT exactly
  * from the corpus (c_ab, c_a, V) and takes only the micro-nat column
  * from the dump (the documented float-kernel seam, same class as the
  * LSH projections); `text_lm_perplexity`'s oracle re-derives every
  * document's bigrams from raw text, joins the DUMPED model table, and
  * replays the whole aggregation + flag — so a wrong join, a missed
  * bigram, or a wrong sum hash-fails even though `ln` itself is never
  * recomputed in SQL.
  *
  * At 100 TB: training is two bigram-keyed aggregates (one shuffle
  * each) producing a model ≪ corpus; scoring joins the model back —
  * broadcast at this vocabulary, a term-keyed shuffle join past
  * broadcastability (the BM25 discipline). Per-doc state never exceeds
  * the token array already in the row.
  */
object TextAnalysis5 {

  /** High-perplexity flag threshold, micro-nats per bigram: mean nll
    * above 3.43 nats (≈ perplexity 31) marks the tail. Chosen off the
    * fixture's measured per-doc distribution (sf0.01: median 3.387,
    * p90 3.425, max 3.611; sf0.001 shifts ~+0.03) so BOTH classes
    * occur at every gate SF (spec-pinned); a production run calibrates
    * it per corpus, exactly like CCNet's per-language percentile cut.
    */
  private[graft] val FlagMicroNats = 3430000L

  private def toks(c: Column): Column =
    filter(split(lower(c), " ", -1), w => w =!= "")

  /** Adjacent-pair structs from the token array — zero-shuffle bigram
    * extraction (the array is already in the row; no posexplode +
    * self-join detour).
    */
  private def bigramsOf(t: Column): Column =
    when(size(t) >= 2,
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("a"), b.as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))

  /** Corpus bigram stream: one row per adjacent token pair. */
  private def corpusBigrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(bigramsOf(toks(col("text")))).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))

  /** The trained model as a DataFrame: one row per observed bigram with
    * its exact counts and the pinned micro-nat cost. Laplace smoothing
    * p(b|a) = (c_ab + 1) / (c_a + V); nll = −ln p pinned via the
    * engine-stable floor(x·1e6 + 0.5) (NOTES #21) — every downstream
    * read is integer-only.
    */
  private def model(spark: SparkSession, dir: String): DataFrame = {
    val big = corpusBigrams(spark, dir)
    val cab = big.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val ca = big.groupBy(col("a")).agg(count(lit(1)).as("c_a"))
    val v = Tables.documents(spark, dir)
      .select(explode(toks(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    cab.join(broadcast(ca), Seq("a"))
      .crossJoin(broadcast(v)) // 1-row scalar attach
      .withColumn("nll_micro_nats",
        floor(-log((col("c_ab") + 1).cast("double") /
          (col("c_a") + col("v")).cast("double")) * 1e6 + 0.5).cast("long"))
  }

  /** The model, cached for the length of the calling lane (IterCache):
    * `text_lm_train` IS this frame and `text_lm_perplexity`
    * broadcast-joins it, each lane running the full training chain
    * (three corpus aggregates) itself. The frame is output-sized (one
    * row per observed bigram ≪ corpus — it is literally the lane's
    * dumped artifact, the "verified model shipped to the scoring fleet"
    * of the scaladoc above) and deterministic.
    */
  private def modelCached(spark: SparkSession, dir: String): DataFrame =
    IterCache.persist(model(spark, dir))

  /** Registered training query: the model table itself. */
  def textLmTrain(spark: SparkSession, dir: String): DataFrame =
    modelCached(spark, dir)
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("v"),
        col("nll_micro_nats"))
      .orderBy(col("a"), col("b"))

  /** Registered scoring query: per-document NLL + the tail flag. Every
    * observed document bigram exists in the model by construction
    * (counts come from this same corpus), so the inner join loses
    * nothing; the left join back to `documents` keeps degenerate
    * sub-2-token docs with a zero score instead of dropping them (the
    * quality-gate lesson — a missing verdict is a silent pass).
    */
  def textLmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val m = modelCached(spark, dir)
      .select(col("a"), col("b"), col("nll_micro_nats"))
    val perDoc = corpusBigrams(spark, dir)
      .join(broadcast(m), Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll_micro_nats")).as("nll_micro_nats"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_micro_nats"), lit(0L)).as("nll_micro_nats"),
        (coalesce(col("nll_micro_nats"), lit(0L)) >
          coalesce(col("n_bigrams"), lit(0L)) * FlagMicroNats).as("flagged"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTE stack: tokens and bigrams from raw text. */
  private val BigramCtes: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS t
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, t[s.i] AS a, t[s.i + 1] AS b
      |  FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS s(i)
      |  WHERE len(t) >= 2)""".stripMargin

  private val LmTrainOracle: String =
    s"""$BigramCtes,
      |cab AS (SELECT a, b, count(*) AS c_ab FROM big GROUP BY 1, 2),
      |ca AS (SELECT a, count(*) AS c_a FROM big GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v
      |  FROM (SELECT unnest(t) AS w FROM toks)),
      |d AS (SELECT a, b, nll_micro_nats
      |  FROM read_parquet('__DUMP__/text_lm_train/*.parquet'))
      |SELECT cab.a, cab.b, CAST(cab.c_ab AS BIGINT) AS c_ab,
      |  CAST(ca.c_a AS BIGINT) AS c_a, CAST(v.v AS BIGINT) AS v,
      |  d.nll_micro_nats
      |FROM cab JOIN ca USING (a) CROSS JOIN v
      |  JOIN d ON d.a = cab.a AND d.b = cab.b
      |ORDER BY cab.a, cab.b""".stripMargin

  private val LmPerplexityOracle: String =
    s"""$BigramCtes,
      |m AS (SELECT a, b, nll_micro_nats
      |  FROM read_parquet('__DUMP__/text_lm_train/*.parquet')),
      |per AS (
      |  SELECT big.doc_id, count(*) AS nb, sum(m.nll_micro_nats) AS s
      |  FROM big JOIN m USING (a, b) GROUP BY big.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(per.nb, 0) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(per.s, 0) AS BIGINT) AS nll_micro_nats,
      |  coalesce(per.s, 0) > coalesce(per.nb, 0) * $FlagMicroNats AS flagged
      |FROM (SELECT doc_id FROM documents) d
      |  LEFT JOIN per ON per.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    // counts replayed exactly from the corpus; the micro-nat column is
    // the one documented float-kernel seam (read from the dump)
    QueryDef("text_lm_train", textLmTrain _, LmTrainOracle),
    // the aggregation + flag fully replayed from raw text + the dumped
    // model — a wrong join/sum/flag hash-fails without recomputing ln
    QueryDef("text_lm_perplexity", textLmPerplexity _, LmPerplexityOracle)
  )
}

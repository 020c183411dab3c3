package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's template mixins re-expressed as DataFrame transforms:
  * classify (sutro/templates/classification.py:12), score
  * (sutro/templates/evals.py:13), embed (sutro/templates/embed.py:9),
  * rank (sutro/templates/evals.py:78).
  */
object Templates {

  /** Classification template: run the classifier model, unpack the
    * structured {scratchpad, classification} output, optionally keep the
    * scratchpad (reference include_scratchpad). The classifier declares
    * its output schema, so the unpack runs no job; the final label column
    * declares an empty schema, so reading it back unpacks nothing. */
  def classify(
      df: DataFrame,
      classes: Seq[String],
      column: Seq[String],
      outputColumn: String = "inference_result",
      includeScratchpad: Boolean = false): DataFrame = {
    val model = KeywordClassifier(classes)
    val inferred = Infer.infer(df, model, column, outputColumn)
    val unpacked = Results.unpackJson(inferred, outputColumn)
    if (includeScratchpad) unpacked
    else unpacked.withColumnRenamed("classification", outputColumn).drop("scratchpad")
      .withMetadata(outputColumn, Results.outputSchemaMetadata(new StructType()))
  }

  /** Judge-score template: deterministic score in [lo, hi] per row. */
  def score(
      df: DataFrame,
      column: Seq[String],
      criteria: Seq[String],
      scoreColumnName: String = "score",
      range: (Int, Int) = (0, 10)): DataFrame = {
    val model = JudgeScorer(range._1, range._2)
    val prompt = Infer.renderPrompt(df, column)
    df.withColumn(scoreColumnName, model.score(prompt))
  }

  /** Embedding template: array<float> embedding column appended. */
  def embed(
      df: DataFrame,
      column: Seq[String],
      outputColumn: String = "inference_result",
      dim: Int = 64): DataFrame = {
    val prompt = Infer.renderPrompt(df, column)
    df.withColumn(outputColumn, HashEmbedder(dim).embed(prompt))
  }

  /** Rank template over labeled option columns: deterministic judge orders
    * options by descending content length, label ascending on ties.
    * Emits the ranking as an ordered array plus the winner. `criteria`
    * mirrors the reference's judge-criteria parameter
    * (sutro/templates/evals.py:89) — it shapes the system prompt of a real
    * LLM judge; the deterministic local judge records it for parity. */
  def rank(
      df: DataFrame,
      optionLabels: Seq[String],
      rankingColumnName: String = "ranking",
      criteria: Seq[String] = Seq.empty): DataFrame = {
    require(optionLabels.nonEmpty)
    // build array of (len, label) structs, sort by -len then label
    val entries = optionLabels.map { l =>
      struct((lit(0) - length(coalesce(col(l).cast("string"), lit("")))).as("neglen"), lit(l).as("label"))
    }
    val ranked = transform(array_sort(array(entries: _*)), e => e.getField("label"))
    df.withColumn(rankingColumnName, ranked)
      .withColumn("winner", element_at(col(rankingColumnName), 1))
  }

  /** rank with run_elo=True parity (evals.py:171-173): rank every row,
    * then fit Elo over the produced ballots. Returns (ranked frame,
    * elo ratings frame). */
  def rankWithElo(
      df: DataFrame,
      optionLabels: Seq[String],
      rankingColumnName: String = "ranking",
      criteria: Seq[String] = Seq.empty): (DataFrame, DataFrame) = {
    val ranked = rank(df, optionLabels, rankingColumnName, criteria)
    (ranked, Elo.ratings(ranked, rankingColumnName))
  }
}

package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, Metadata, MetadataBuilder, StringType, StructType}

/** Result-shaping semantics of the reference's `get_job_results`
  * (sutro/sdk.py:1131): structured-output JSON unpacking into columns,
  * collision checks, column ordering, original-DataFrame join-back.
  */
object Results {

  /** Column-metadata key carrying a declared structured-output schema (as
    * `StructType.json`). [[Infer.infer]] sets it from [[Model.outputSchema]];
    * metadata survives `select`, joins and the job cache's parquet round
    * trip, so readback knows the schema without looking at the data. */
  val OutputSchemaKey = "graft.output_schema"

  /** Metadata declaring `schema` as a column's structured-output schema. An
    * empty schema declares a column that holds no JSON object. */
  def outputSchemaMetadata(schema: StructType): Metadata =
    new MetadataBuilder().putString(OutputSchemaKey, schema.json).build()

  /** Unpack a JSON-string output column into one column per top-level field
    * (reference `unpack_json`, sutro/sdk.py:1283).
    *
    * The schema comes, in order, from:
    *  - the column's declared schema ([[OutputSchemaKey]] metadata);
    *  - nothing, when the column is neither string nor binary: a cast int,
    *    array, struct or map is never a JSON object, so the frame is
    *    returned unchanged. (One corner differs from probing: an
    *    array<string> whose elements are JSON objects casts to a JSON
    *    array, which the probe would have unpacked.);
    *  - a 1-row sample job, mirroring the reference's first-row
    *    `json.loads` probe. If that row is not a JSON object the frame is
    *    returned unchanged.
    * Only the probe runs a Spark job. Raises on field/column collisions,
    * like the reference.
    */
  def unpackJson(df: DataFrame, outputColumn: String = "inference_result"): DataFrame = {
    val schema = df.schema.fields.find(_.name == outputColumn) match {
      case Some(f) if f.metadata.contains(OutputSchemaKey) =>
        DataType.fromJson(f.metadata.getString(OutputSchemaKey)).asInstanceOf[StructType]
      case Some(f) if !(f.dataType.isInstanceOf[StringType] || f.dataType == BinaryType) =>
        return df
      case _ => probeSchema(df, outputColumn)
    }
    if (schema.isEmpty) return df
    val flat = unpackJsonWithSchema(df, schema, outputColumn)

    // Reasoning-model outputs nest the real payload one level down:
    // {content: {...}, reasoning_content: ...} — unpack content's fields
    // and drop the wrapper (reference: sutro/sdk.py:1313).
    if (schema.fieldNames.sorted.toSeq == Seq("content", "reasoning_content")) {
      flat.schema("content").dataType match {
        case s: StructType =>
          val inner = s.fields.map(_.name)
          inner.foldLeft(flat) { (d, f) => d.withColumn(f, col(s"content.$f")) }
            .drop("content")
        case _ => flat
      }
    } else flat
  }

  /** The schema `spark.read.json` infers from the first non-null value;
    * empty when that value is not a JSON object. */
  private def probeSchema(df: DataFrame, outputColumn: String): StructType = {
    val spark = df.sparkSession
    val sample: Dataset[String] = {
      import spark.implicits._
      df.select(col(outputColumn).cast("string")).na.drop().limit(1).as[String]
    }
    val parsed = spark.read.json(sample).schema
    if (parsed.fieldNames.contains("_corrupt_record")) new StructType() else parsed
  }

  /** Unpack with a caller-provided schema (the `output_schema` analog,
    * reference normalize_output_schema, sutro/common.py:170) — no data
    * probe. The body [[unpackJson]] shares: reject field/column
    * collisions, parse the output against `schema`, append one column per
    * field, drop the raw output column. */
  def unpackJsonWithSchema(
      df: DataFrame,
      schema: StructType,
      outputColumn: String = "inference_result"): DataFrame = {
    val fields = schema.fieldNames
    val conflicting = fields.toSet.intersect(df.columns.toSet - outputColumn).toSeq.sorted
    if (conflicting.nonEmpty)
      throw new IllegalArgumentException(
        "Cannot unpack structured output fields that conflict with existing result columns: " +
          conflicting.mkString(", ") + ". Set unpack_json=False to preserve the metadata and raw structured output.")
    val unpacked = df.withColumn("__parsed", from_json(col(outputColumn).cast("string"), schema))
    fields.foldLeft(unpacked)((d, f) => d.withColumn(f, col(s"__parsed.$f")))
      .drop("__parsed").drop(outputColumn)
  }

  /** Reference column ordering (sutro/sdk.py:1251): inputs first, then
    * caller metadata columns, then the output column, then diagnostics. */
  def orderColumns(
      df: DataFrame,
      outputColumn: String = "inference_result",
      includeInputs: Boolean = false,
      includeCumulativeLogprobs: Boolean = false): DataFrame = {
    val standard = Set("inputs", outputColumn, "cumulative_logprobs", "confidence_score")
    val metadata = df.columns.filterNot(standard.contains)
    val ordered = Seq(
      "inputs" -> includeInputs) ++
      metadata.map(_ -> true) ++ Seq(
      outputColumn -> true,
      "cumulative_logprobs" -> includeCumulativeLogprobs,
      "confidence_score" -> df.columns.contains("confidence_score"))
    val keep = ordered.collect { case (c, true) if df.columns.contains(c) => c }
    df.select(keep.map(col): _*)
  }

  /** Join results back onto the original frame by a shared id column
    * (reference `with_original_df` concatenation is positional; at Spark
    * scale positional concat is an anti-pattern, so graft carries an id). */
  def withOriginalDf(original: DataFrame, results: DataFrame, idColumn: String): DataFrame =
    original.join(results, Seq(idColumn), "left")
}

package graft

import graft.llm._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mirrors the reference's results-shaping tests: unpack_json field
  * explosion, collision detection (tests/test_id_column.py), column
  * ordering, join-back. */
class ResultsSpec extends SparkSpec {
  import spark.implicits._

  test("unpackJson: fields become columns, raw column dropped") {
    val df = Seq((1L, """{"score":7,"label":"good"}"""), (2L, """{"score":3,"label":"bad"}"""))
      .toDF("id", "inference_result")
    val out = Results.unpackJson(df)
    assert(out.columns.sorted.toSeq === Seq("id", "label", "score"))
    val r = out.orderBy("id").select("id", "score", "label").as[(Long, Long, String)].collect()
    assert(r(0) === ((1L, 7L, "good")))
  }

  test("unpackJson: collision with existing column raises like the reference (sdk.py:1283)") {
    val df = Seq((1L, "x", """{"id":9}""")).toDF("id", "text", "inference_result")
    val e = intercept[IllegalArgumentException](Results.unpackJson(df))
    assert(e.getMessage.contains("conflict"))
  }

  test("unpackJson: non-JSON output left unchanged") {
    val df = Seq((1L, "plain text")).toDF("id", "inference_result")
    val out = Results.unpackJson(df)
    assert(out.columns.toSeq === Seq("id", "inference_result"))
  }

  /** The probe's view of a column: the schema `spark.read.json` infers
    * from its first non-null value cast to string. */
  private def probed(df: DataFrame, c: String): StructType =
    spark.read.json(df.select(col(c).cast("string")).na.drop().limit(1).as[String]).schema

  private def docs = Seq(
    (1L, "a join of two tables"), (2L, "windowed stream"), (3L, "nothing here at all"))
    .toDF("doc_id", "text")

  test("unpackJson: a declared schema unpacks with no Spark job, same rows as the probe") {
    val inferred = Infer.infer(docs, JudgeScorer(0, 10), Seq("text"))
    assert(inferred.schema("inference_result").metadata.contains(Results.OutputSchemaKey))
    val (out, jobs) = sparkJobsDuring(Results.unpackJson(inferred))
    assert(jobs === 0)
    // the same frame with the declaration stripped goes through the probe
    val undeclared = inferred.withMetadata("inference_result", Metadata.empty)
    val (viaProbe, probeJobs) = sparkJobsDuring(Results.unpackJson(undeclared))
    assert(probeJobs > 0)
    assert(out.schema === viaProbe.schema)
    assert(out.orderBy("doc_id").collect().toSeq === viaProbe.orderBy("doc_id").collect().toSeq)
    // the declaration survives a select and a join
    val joined = Results.withOriginalDf(docs.select("doc_id"), inferred.select("doc_id", "inference_result"),
      "doc_id")
    assert(sparkJobsDuring(Results.unpackJson(joined))._2 === 0)
  }

  test("unpackJson: an undeclared JSON string column still probes and unpacks as before") {
    val df = Seq((1L, """{"score":7,"label":"good"}""")).toDF("id", "inference_result")
    val (out, jobs) = sparkJobsDuring(Results.unpackJson(df))
    assert(jobs > 0)
    assert(out.columns.toSeq === Seq("id", "label", "score"))
    assert(out.as[(Long, String, Long)].collect().toSeq === Seq((1L, "good", 7L)))
  }

  test("unpackJson: an empty declared schema returns the frame unchanged with no job") {
    val df = Seq((1L, """{"score":7}""")).toDF("id", "inference_result")
      .withMetadata("inference_result", Results.outputSchemaMetadata(new StructType()))
    val (out, jobs) = sparkJobsDuring(Results.unpackJson(df))
    assert(jobs === 0 && (out eq df))
  }

  test("unpackJson: int, array and struct columns come back unchanged with no job, as probed") {
    val df = Seq((1L, 7, Seq(0.5f, -0.5f), Seq("a", "b"), ("x", 2)))
      .toDF("id", "n", "vec", "labels", "pair")
    for (c <- Seq("n", "vec", "labels", "pair")) {
      val (out, jobs) = sparkJobsDuring(Results.unpackJson(df, c))
      assert(jobs === 0, c)
      assert(out eq df, c)
      // the probe found no JSON object in these either, so it returned df too
      val p = probed(df, c)
      assert(p.isEmpty || p.fieldNames.contains("_corrupt_record"), s"$c probed as $p")
    }
  }

  test("unpackJson: array<string> of JSON objects is the one corner the probe unpacked") {
    // cast to string this column reads `[{"a":1}, {"a":2}]`, a JSON array of
    // objects, so the probe found field `a`; by type it is not a JSON
    // object, and unpackJson now returns it unchanged
    val df = Seq((1L, Seq("""{"a":1}""", """{"a":2}"""))).toDF("id", "inference_result")
    assert(probed(df, "inference_result").fieldNames.toSeq === Seq("a"))
    val (out, jobs) = sparkJobsDuring(Results.unpackJson(df))
    assert(jobs === 0 && (out eq df))
  }

  test("outputSchema: each declared schema is what spark.read.json infers from the output") {
    val declared = Seq(KeywordClassifier(Seq("join", "window")), JudgeScorer(0, 10))
    for (m <- declared) {
      val out = docs.select(m.generate(col("text"))).as[String]
      assert(m.outputSchema === Some(spark.read.json(out).schema), m.name)
    }
    for (m <- Seq(EchoModel(), TemplateModel("t: "), HashEmbedder()))
      assert(m.outputSchema.isEmpty, m.name)
  }

  test("orderColumns: metadata first, output, then diagnostics (sdk.py:1251)") {
    val df = Seq((1L, "t", "out", 0.9)).toDF("id", "text", "inference_result", "confidence_score")
    val out = Results.orderColumns(df)
    assert(out.columns.toSeq === Seq("id", "text", "inference_result", "confidence_score"))
  }

  test("withOriginalDf: left join preserves all original rows") {
    val orig = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    val res = Seq((1L, "r1")).toDF("id", "out")
    val joined = Results.withOriginalDf(orig, res, "id").orderBy("id")
    assert(joined.count() === 2)
    assert(joined.where(col("out").isNull).count() === 1)
  }
}

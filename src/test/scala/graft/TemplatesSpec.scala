package graft

import graft.llm.{Results, Templates}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

class TemplatesSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "this mentions join things"),
    (2L, "a window function story"),
    (3L, "nothing relevant here")
  ).toDF("doc_id", "text")

  test("classify: first matching class wins, fallback otherwise, scratchpad dropped") {
    val out = Templates.classify(docs, Seq("join", "window"), Seq("text"), outputColumn = "cls")
    assert(!out.columns.contains("scratchpad"))
    val r = out.orderBy("doc_id").select("cls").as[String].collect()
    assert(r.toSeq === Seq("join", "window", "other"))
  }

  test("classify: includeScratchpad keeps both structured fields") {
    val out = Templates.classify(docs, Seq("join"), Seq("text"), includeScratchpad = true)
    assert(out.columns.contains("scratchpad") && out.columns.contains("classification"))
  }

  test("templates build their frames with no Spark job; the classify label declares no JSON") {
    val builds = Seq(
      "classify" -> (() => Templates.classify(docs, Seq("join", "window"), Seq("text"))),
      "classify_scratchpad" ->
        (() => Templates.classify(docs, Seq("join"), Seq("text"), includeScratchpad = true)),
      "score" -> (() => Templates.score(docs, Seq("text"), Seq("clarity"))),
      "embed" -> (() => Templates.embed(docs, Seq("text"))),
      "rank" -> (() => Templates.rank(docs, Seq("text", "doc_id"))))
    for ((kind, build) <- builds) {
      val (_, jobs) = sparkJobsDuring(build())
      assert(jobs === 0, kind)
    }
    val label = Templates.classify(docs, Seq("join"), Seq("text")).schema("inference_result")
    assert(label.metadata.getString(Results.OutputSchemaKey) === new StructType().json)
  }

  test("score: values stay within the requested range") {
    val out = Templates.score(docs, Seq("text"), Seq("clarity"), range = (1, 5))
      .select("score").as[Int].collect()
    assert(out.forall(s => s >= 1 && s <= 5))
  }

  test("rank: longer option ranked first, winner extracted") {
    val df = Seq((1L, "long option text", "hi")).toDF("id", "a", "b")
    val out = Templates.rank(df, Seq("a", "b")).select("ranking", "winner").collect()(0)
    assert(out.getSeq[String](0) === Seq("a", "b"))
    assert(out.getString(1) === "a")
  }

  test("embed: array<float> column of requested dim") {
    val out = Templates.embed(docs, Seq("text"), outputColumn = "emb", dim = 32)
    val v = out.select("emb").collect()(0).getSeq[Float](0)
    assert(v.length === 32)
  }
}

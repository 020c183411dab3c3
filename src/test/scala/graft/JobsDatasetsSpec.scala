package graft

import graft.llm.{Infer, JudgeScorer, Jobs, Results, Templates}
import graft.io.Datasets
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata

/** Job lifecycle + dataset registry round trips (reference: sutro/sdk.py
  * jobs and datasets APIs, ~/.sutro parquet result cache). */
class JobsDatasetsSpec extends SparkSpec {
  import spark.implicits._

  test("jobs: submit -> succeeded -> results round trip via parquet cache") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    val id = Jobs.submit(df, Some("test-job"))
    assert(Jobs.status(id) === Jobs.Succeeded)
    val back = Jobs.results(spark, id).orderBy("id").as[(Long, String)].collect()
    assert(back.toSeq === Seq((1L, "a"), (2L, "b")))
    assert(Jobs.list().exists(_.id === id))
  }

  /** (kind, frame, output column) for every built-in template. */
  private def templateFrames: Seq[(String, DataFrame, String)] = {
    val docs = Seq((1L, "this mentions join things"), (2L, "a window function story"),
      (3L, "nothing relevant here")).toDF("doc_id", "text")
    Seq(
      ("infer_structured", Infer.infer(docs, JudgeScorer(0, 10), Seq("text")), "inference_result"),
      ("classify", Templates.classify(docs, Seq("join", "window"), Seq("text"),
        outputColumn = "classification_result"), "classification_result"),
      ("classify_scratchpad", Templates.classify(docs, Seq("join"), Seq("text"),
        includeScratchpad = true), "inference_result"),
      ("score", Templates.score(docs, Seq("text"), Seq("clarity"), range = (1, 5)), "score"),
      ("embed", Templates.embed(docs, Seq("text"), outputColumn = "embedding", dim = 8), "embedding"),
      ("rank", Templates.rank(docs.select(col("doc_id"), col("text").as("a"), lit("bb").as("b")),
        Seq("a", "b")), "ranking"))
  }

  test("jobs: results read with the recorded schema equal a schema-inferring parquet read") {
    for ((kind, frame, _) <- templateFrames) {
      val id = Jobs.submit(frame, Some(kind))
      val path = Jobs.list().find(_.id == id).get.resultPath
      val inferred = spark.read.parquet(path)
      // StructField equality covers names, order, types, nullability, metadata
      assert(Jobs.results(spark, id).schema === inferred.schema, kind)
      assert(Jobs.results(spark, id).orderBy("doc_id").collect().toSeq ===
        inferred.orderBy("doc_id").collect().toSeq, kind)
      if (kind == "infer_structured")
        assert(inferred.schema("inference_result").metadata.contains(Results.OutputSchemaKey))
    }
  }

  test("jobs: get_job_results runs no Spark job for any built-in template, same rows as probing") {
    val g = Graft(spark)
    for ((kind, frame, out) <- templateFrames) {
      val id = Jobs.submit(frame, Some(kind))
      val (res, jobs) = sparkJobsDuring(g.jobResults(id, outputColumn = out))
      assert(jobs === 0, kind)
      // the readback before declared schemas: inferring read, probing unpack
      val path = Jobs.list().find(_.id == id).get.resultPath
      val raw = spark.read.parquet(path)
      val probed =
        if (!raw.columns.contains(out)) raw
        else Results.unpackJson(Results.orderColumns(raw.withMetadata(out, Metadata.empty), out), out)
      assert(res.columns.toSeq === probed.columns.toSeq, kind)
      assert(res.orderBy("doc_id").collect().toSeq === probed.orderBy("doc_id").collect().toSeq, kind)
    }
  }

  test("jobs: results of a cleared cache throw instead of reading an empty frame") {
    val prior = sys.props.get("graft.jobs.dir")
    sys.props("graft.jobs.dir") = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    try {
      val id = Jobs.submit(Seq((1L, "a")).toDF("id", "text"))
      assert(Jobs.results(spark, id).count() === 1)
      Cli.run(Graft(spark), List("cache", "clear"))
      val e = intercept[org.apache.spark.sql.AnalysisException](Jobs.results(spark, id))
      assert(e.getMessage.contains(id))
      intercept[org.apache.spark.sql.AnalysisException](Graft(spark).jobResults(id))
    } finally prior match {
      case Some(d) => sys.props("graft.jobs.dir") = d
      case None => sys.props -= "graft.jobs.dir"
    }
  }

  test("jobs: unknown id -> Failed status; cancel on terminal job is a no-op") {
    assert(Jobs.status("job-nope") === Jobs.Failed)
    val df = Seq(1).toDF("x")
    val id = Jobs.submit(df)
    assert(Jobs.cancel(id) === Jobs.Succeeded)
  }

  test("datasets: create/upload/list/download parquet and csv") {
    val root = java.nio.file.Files.createTempDirectory("graft-ds").toString
    val ds = new Datasets(root)
    val id = ds.create(Some("my-data"))
    assert(ds.list().contains("my-data"))
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    ds.upload(df, id, "parquet")
    ds.upload(df, id, "csv")
    assert(ds.listFiles(id).toSet === Set("part.parquet", "part.csv"))
    val pq = ds.download(spark, id, "part.parquet").orderBy("id").as[(Long, String)].collect()
    assert(pq.toSeq === Seq((1L, "x"), (2L, "y")))
    val csv = ds.download(spark, id, "part.csv").count()
    assert(csv === 2)
  }

  test("datasets: orc round-trip preserves schema and values") {
    val root = java.nio.file.Files.createTempDirectory("graft-ds-orc").toString
    val ds = new Datasets(root)
    val id = ds.create(Some("orc-data"))
    val df = Seq((1L, "x", 1.5), (2L, "y", -2.25)).toDF("id", "v", "w")
    ds.upload(df, id, "orc")
    assert(ds.listFiles(id) === Seq("part.orc"))
    val back = ds.download(spark, id, "part.orc").orderBy("id")
      .as[(Long, String, Double)].collect()
    assert(back.toSeq === Seq((1L, "x", 1.5), (2L, "y", -2.25)))
    assert(ds.download(spark, id, "part.orc").schema.map(_.dataType.simpleString) ===
      Seq("bigint", "string", "double"))
  }

  test("datasets: unknown dataset rejected") {
    val ds = new Datasets(java.nio.file.Files.createTempDirectory("graft-ds2").toString)
    intercept[IllegalArgumentException](ds.listFiles("missing"))
  }

  test("datasets: raw file upload with format validation (sdk.py:1400)") {
    val ds = new Datasets(java.nio.file.Files.createTempDirectory("graft-ds3").toString)
    val src = java.nio.file.Files.createTempDirectory("graft-upload-src")
    java.nio.file.Files.writeString(src.resolve("lines.txt"), "one\ntwo\n")
    java.nio.file.Files.writeString(src.resolve("rows.csv"), "a,b\n1,2\n")
    // directory expansion + auto-created dataset
    val (id, names) = ds.uploadFiles(Seq(src.toString))
    assert(names.sorted === Seq("lines.txt", "rows.csv"))
    assert(ds.listFiles(id).toSet === Set("lines.txt", "rows.csv"))
    // uploaded txt loads back one line per row
    assert(ds.download(spark, id, "lines.txt").count() === 2)
    // unsupported extension rejected
    java.nio.file.Files.writeString(src.resolve("blob.xyz"), "nope")
    val ex = intercept[IllegalArgumentException](
      ds.uploadFiles(Seq(src.resolve("blob.xyz").toString), Some(id)))
    assert(ex.getMessage.contains("Unsupported file type"))
    // empty directory rejected
    val empty = java.nio.file.Files.createTempDirectory("graft-empty")
    intercept[IllegalArgumentException](ds.uploadFiles(Seq(empty.toString)))
    // raw download round-trip (sdk.py:1535)
    val outDir = java.nio.file.Files.createTempDirectory("graft-export")
    val written = ds.exportFiles(id, outDir.toString)
    assert(written.map(p => new java.io.File(p).getName).sorted === Seq("lines.txt", "rows.csv"))
    assert(java.nio.file.Files.readString(outDir.resolve("lines.txt")) === "one\ntwo\n")
    intercept[IllegalArgumentException](ds.exportFiles(id, outDir.toString, Some(Seq("missing.bin"))))
  }
}

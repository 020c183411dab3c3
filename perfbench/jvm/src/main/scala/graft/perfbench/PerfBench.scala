package graft.perfbench

import graft.{Bench, Graft, GraftSession, SparkEntry}
import graft.io.Tables
import graft.llm.{Elo, JudgeScorer, Jobs, Results}
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** One closed-loop client: runs the ops of a seeded schedule back to back
  * against graft's public functions and writes raw records for run.py,
  * which computes every metric and checks every output.
  *
  * Arguments (key=value): workload, data, warm, schedule, warm_schedule,
  * out, seconds, trace (0|1).
  *
  * The schedule is a TSV of `op_id round kind arg...`. The timed pass stops
  * at the first round boundary after `seconds`, so every run measures whole
  * rounds and the op mix does not depend on where the clock ran out. */
object PerfBench {

  final case class Op(id: Int, round: Int, kind: String, args: Array[String])

  private def readSchedule(path: String): Seq[Op] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val f = l.split('\t')
      Op(f(0).toInt, f(1).toInt, f(2), f.drop(3))
    }.toSeq

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = args("workload")
    val out = new File(args("out"))
    out.mkdirs()
    val seconds = args("seconds").toDouble
    val tracer = new Tracer(args("trace") == "1")
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val timed = readSchedule(args("schedule"))
    // the catalog's DuckDB oracles, for run.py's output checks
    Files.write(Paths.get(out.getPath, "oracle_sql.json"),
      SparkEntry.oracleSql.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
    val warm = readSchedule(args("warm_schedule"))

    // Set-up, from JVM start: create the session and run the first warm-up
    // op on the small warm-up inputs. Then the other op kinds run once on
    // the warm-up inputs, so the timed pass starts with warm code paths.
    val spark = GraftSession.getOrCreate()
    val created = Clock.nowUs
    val warmer = Workloads(workload, spark, new Tracer(false), args("warm"), new File(out, "warm"))
    def warmUp(ops: Seq[PerfBench.Op]): String = ops.map { op =>
      val w0 = Clock.nowUs
      warmer.run(op)
      Bench.cleanup(spark)
      s"${Json.str(op.kind)}:${Clock.nowUs - w0}"
    }.mkString("{", ",", "}")
    warmUp(warm.take(1))
    val setupLines = ArrayBuffer(
      s"""{"kind":"setup","create_us":${created - jvmStartUs},"warmup_us":${Clock.nowUs - created}}""")
    val w0 = Clock.nowUs
    val warmOps = warmUp(warm.drop(1))
    setupLines += s"""{"kind":"warmup","us":${Clock.nowUs - w0},"ops_us":$warmOps}"""
    System.gc()

    val counter = new OutputCounter
    spark.sparkContext.addSparkListener(counter)
    val opLines = new ArrayBuffer[String]()

    // One pass over the schedule, until the first round boundary after
    // `seconds`; returns its runner, which holds the progress counts.
    def pass(ops: Seq[PerfBench.Op], tr: Tracer, kind: String): Workloads = {
      val runner = Workloads(workload, spark, tr, args("data"), new File(out, "ops"))
      val deadline = Clock.nowUs + (seconds * 1e6).toLong
      var lastRound = -1
      val it = ops.iterator
      var stop = false
      while (!stop && it.hasNext) {
        val op = it.next()
        if (op.round != lastRound && Clock.nowUs >= deadline) stop = true
        else {
          lastRound = op.round
          spark.sparkContext.setLocalProperty(OutputCounter.TimedProp, "1")
          val t0 = Clock.nowUs
          val res = try Right(tr.op(op.id, op.kind)(runner.run(op)))
          catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
          val t1 = Clock.nowUs
          spark.sparkContext.setLocalProperty(OutputCounter.TimedProp, null)
          // untimed: the op's pinned block-store bytes (as TimeQ's pin report),
          // output dumps for the checks, then release op state
          val pinned = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          val extra = res.fold(_ => "", r => runner.afterOp(op, r))
          Bench.cleanup(spark)
          val err = res.fold(e => s""","error":${Json.str(e.take(300))}""", _ => "")
          opLines += s"""{"kind":"$kind","id":${op.id},"round":${op.round},"op":${Json.str(op.kind)},""" +
            s""""start":$t0,"end":$t1,"pinned_bytes":$pinned$extra$err}"""
        }
      }
      runner
    }

    // A traced run first runs the first round untraced, then attaches the
    // listeners and runs the timed pass, so the tracing overhead is measured
    // in one JVM under the same conditions.
    val engine = if (tracer.enabled) Some(new EngineRecorder) else None
    engine.foreach { e =>
      pass(timed.takeWhile(_.round == timed.head.round), new Tracer(false), "op_untraced")
      spark.sparkContext.addSparkListener(e)
      spark.listenerManager.register(e.queryListener)
      spark.streams.addListener(e.streamListener)
      tracer.bind(spark.sparkContext)
    }
    val passStart = Clock.nowUs
    val runner = pass(timed, tracer, "op")
    val passEnd = Clock.nowUs
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val summary =
      s"""{"kind":"pass","start":$passStart,"end":$passEnd,"cores":${spark.sparkContext.defaultParallelism},""" +
        s""""vm_hwm_kb":${vmHwmKb()},"output_bytes":${counter.bytes.get},"output_rows":${counter.rows.get},""" +
        s""""trace_records":${graft.Observability.recent(Int.MaxValue).size},""" +
        s""""registry_jobs":${Jobs.list().size},"progress_ticks":${runner.progressTicks.get},""" +
        s""""progress_tasks":${runner.progressTasks.get}}"""
    val lines = setupLines ++ opLines ++ Seq(summary) ++
      engine.toSeq.flatMap(e => e.jobLines ++ e.queryRecords ++ e.batchRecords) ++
      tracer.spans.map(s =>
        s"""{"kind":"span","id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
          s""""name":${Json.str(s.name)},"start":${s.start},"end":${s.end}}""")
    val w = new PrintWriter(new File(out, "records.jsonl"), "UTF-8")
    try lines.foreach(w.println) finally w.close()
    spark.stop()
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** What one op hands back to the loop, for the checks: where its output
  * was written, and the frame to dump after the timed window. */
final case class OpResult(outPath: Option[String] = None, frame: Option[DataFrame] = None)

abstract class Workloads(val spark: SparkSession, val tr: Tracer, val data: String, val outDir: File) {
  val progressTicks = new java.util.concurrent.atomic.AtomicLong
  val progressTasks = new java.util.concurrent.atomic.AtomicLong
  def run(op: PerfBench.Op): OpResult
  /** Untimed work after an op (output dumps); returns extra JSON fields. */
  def afterOp(op: PerfBench.Op, r: OpResult): String =
    r.outPath.fold("")(p => s""","out":${Json.str(p)}""") + r.frame.fold("") { df =>
      val p = pathFor(op) + "-frame"
      df.write.mode("overwrite").parquet(p)
      s""","frame":${Json.str(p)}"""
    }
  protected def pathFor(op: PerfBench.Op): String = new File(outDir, s"op${op.id}").getAbsolutePath
}

object Workloads {
  def apply(name: String, spark: SparkSession, tr: Tracer, data: String, outDir: File): Workloads =
    name match {
      case "llm_jobs" => new LlmJobs(spark, tr, data, outDir)
      case "curate_corpus" => new CurateCorpus(spark, tr, data, outDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** One SDK job per op: build the template frame over a doc_id range,
  * submit it, read it back the way get_job_results does. The checks read
  * both the job's cached result and the final frame. */
final class LlmJobs(spark: SparkSession, tr: Tracer, data: String, outDir: File)
    extends Workloads(spark, tr, data, outDir) {
  private val g = Graft(spark)

  def run(op: PerfBench.Op): OpResult = {
    val Array(lo, size, withProgress) = op.args.take(3).map(_.toLong)
    val docs = tr.span("io", "Graft.load")(g.load(s"$data/documents.parquet"))
    val subset = docs.where(col("doc_id") >= lo && col("doc_id") < lo + size)
    val orig = subset.select("doc_id", "lang", "source", "n_chars")
    val text = subset.select("doc_id", "text")
    val (frame, outCol) = tr.span("llm", "build") {
      op.kind match {
        case "infer_structured" =>
          g.infer(text, JudgeScorer(0, 10), Seq("text"), truncateRows = false) -> "inference_result"
        case "classify" =>
          g.classify(text, Seq("join", "window", "stream"), Seq("text"),
            outputColumn = "classification_result") -> "classification_result"
        case "score" => g.score(text, Seq("text"), Seq("clarity"), range = (1, 5)) -> "score"
        case "embed" => g.embed(text, Seq("text"), outputColumn = "embedding", dim = 64) -> "embedding"
        case "rank_elo" =>
          g.rank(subset.select(col("doc_id"), col("text").as("opt_text"), col("source").as("opt_src")),
            Seq("opt_text", "opt_src")) -> "ranking"
      }
    }
    val id = tr.span("llm", "Jobs.submit") {
      if (withProgress == 1) {
        val last = new java.util.concurrent.atomic.AtomicLong
        val id = Jobs.submit(frame, Some(op.kind), 0, (p: Jobs.JobProgress) => {
          progressTicks.incrementAndGet()
          last.set(p.tasksTotal)
        })
        progressTasks.addAndGet(last.get)
        id
      } else Jobs.submit(frame, Some(op.kind), 0)
    }
    val result = tr.span("llm", "readback") {
      val res = Jobs.results(spark, id)
      val ordered = Results.orderColumns(res, outCol)
      val unpacked = tr.span("llm", "Results.unpackJson")(Results.unpackJson(ordered, outCol))
      val df = Results.withOriginalDf(orig, unpacked, "doc_id")
      Bench.exec(df)
      df
    }
    val cachePath = s"${Jobs.cacheDir}/$id.parquet"
    if (op.kind == "rank_elo") {
      val eloPath = pathFor(op) + "-elo"
      tr.span("llm", "Elo.ratings") {
        Elo.ratings(Jobs.results(spark, id), "ranking").write.mode("overwrite").parquet(eloPath)
      }
    }
    OpResult(outPath = Some(new File(cachePath).getAbsolutePath), frame = Some(result))
  }
  override def afterOp(op: PerfBench.Op, r: OpResult): String =
    super.afterOp(op, r) +
      (if (op.kind == "rank_elo") s""","elo":${Json.str(pathFor(op) + "-elo")}""" else "")
}

/** One curation step per op. The IVF-PQ index churn steps keep their order
  * within a round and use fresh table names each round. Streaming steps
  * leave their output in a sink that cleanup deletes, so it is dumped for
  * the checks after the timed window. */
final class CurateCorpus(spark: SparkSession, tr: Tracer, data: String, outDir: File)
    extends Workloads(spark, tr, data, outDir) {
  private def emb = tr.span("io", "Tables.table")(Tables.table(spark, data, "embeddings"))
  private lazy val nEmb = emb.where(col("embedding").isNotNull).count().toInt
  private def ivf(round: Int) = s"pb_ivfpq_r$round"

  private def write(op: PerfBench.Op, df: DataFrame): OpResult = {
    val p = pathFor(op)
    tr.span("io", "write")(df.write.mode("overwrite").parquet(p))
    OpResult(outPath = Some(p))
  }

  private def ivfQuery(op: PerfBench.Op): OpResult = {
    val q = emb.filter(col("vec_id") < 10)
    val n = nEmb
    val df = tr.span("ops", "Similarity.ivfpqQueryIndex") {
      Similarity.ivfpqQueryIndex(q, "vec_id", "embedding", ivf(op.round), k = 5, nprobe = 16,
        rerank = n)
    }
    write(op, df)
  }

  def run(op: PerfBench.Op): OpResult = op.kind match {
    case "ivfpq_build" =>
      tr.span("ops", "Similarity.ivfpqBuildIndex")(
        Similarity.ivfpqBuildIndex(emb, "vec_id", "embedding", ivf(op.round), nlist = 16, m = 8, ksub = 16))
      OpResult()
    case "ivfpq_remove" =>
      val e = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      tr.span("ops", "Similarity.ivfpqRemoveIndex")(
        Similarity.ivfpqRemoveIndex(e, "vec_id", ivf(op.round)))
      OpResult()
    case "ivfpq_query_remove" => ivfQuery(op)
    case step if step.startsWith("stream_") =>
      // a catalog streaming step: the AvailableNow query runs to its sink
      // inside the call; the read-back is materialized with the noop writer
      val df = tr.span("streaming", s"SparkEntry.$step")(SparkEntry.queries(step)(spark, data))
      tr.span("io", "Bench.exec")(Bench.exec(df))
      OpResult(frame = Some(df))
    case step =>
      // a catalog curation step: the library builds the plan, the write runs it
      val df = tr.span("ops", s"SparkEntry.$step")(SparkEntry.queries(step)(spark, data))
      write(op, df)
  }
}

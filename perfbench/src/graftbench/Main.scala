package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a pass. `digest` is `rows:crc32`, or `ERROR …`. */
final case class OpRec(pass: Int, name: String, key: String, ms: Double,
                       digest: String, returned: Long)

/** What a workload sees: the session, the tracer and the recorder. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val data: String,
                val out: String, val cores: Int) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Rows of the latest pass (`|`-joined), for ops checked with a tolerance. */
  val lastRows = mutable.LinkedHashMap.empty[String, Seq[String]]
  /** Per-op-key numbers the checks or the per-layer report need. */
  val notes = mutable.LinkedHashMap.empty[String, Double]
  var pass = -1

  /** Run one operation through the tracer and record it. `drive` returns
    * the digest of what the user receives and the row count. */
  def op[A](name: String, key: String)(call: => A)(drive: A => (String, Long)): Unit = {
    val t0 = System.nanoTime()
    val (digest, n) =
      try tracer.run(name)(call)(drive)
      catch {
        case e: Throwable =>
          if (pass < 0) throw e
          (s"ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}", 0L)
      }
    val ms = (System.nanoTime() - t0) / 1e6
    if (pass >= 0) ops += OpRec(pass, name, key, ms, digest, n)
  }

  /** Collect a DataFrame to the driver and fingerprint it. */
  def collect(df: DataFrame, ordered: Boolean,
              keepRows: Option[String] = None): (String, Long) = {
    val rows = df.collect()
    tracer.notePhases(df)
    keepRows.foreach(k => lastRows(k) = rows.toSeq.map(_.mkString("|")))
    (Digest.rows(rows, ordered), rows.length.toLong)
  }
}

trait Workload {
  /** Open tables and build anything a user would hold across calls. */
  def open(c: Ctx): Unit
  /** One pass of the workload's operations. */
  def pass(c: Ctx): Unit
  /** Planned length of one pass, which sets how many passes --seconds buys. */
  def nominalPassS: Double
}

/** Entry point: `Main --workload w --data dir --out dir --seconds s
  * --trace 0|1 --warmup n`, or `Main --dump-sql file` to write the
  * engine's SQL twins the oracle reuses. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("dump-sql") match {
      case Some(f) => dumpSql(f)
      case None => run(args)
    }
  }

  /** The engine's SQL twins the oracle reuses: its standardization
    * lookup tables and the SparkEntry oracles of the operators the
    * benchmark calls on other inputs. */
  private def dumpSql(path: String): Unit = {
    import graft.ops.Luts
    val twins = graft.SparkEntry.oracleSql
    Json.write(path, Map("race" -> Luts.raceStdSql, "eth" -> Luts.ethStdSql,
      "gender" -> Luts.genderStdSql) ++
      Seq("q_curation_e2e", "q_stream_neardup", "q_standardize_e2e").map(k => k -> twins(k)))
  }

  private def run(args: Map[String, String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = args("workload")
    val data = args("data")
    val out = args("out")
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val warmup = args.getOrElse("warmup", "2").toInt
    val cores = args.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    new File(out).mkdirs()

    val spark = graft.GraftSession.getOrCreate(
      master = s"local[$cores]", shufflePartitions = cores)
    spark.sparkContext.setLogLevel("ERROR")
    graft.CodegenGuard.install()
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, data, out, cores)
    val wl: Workload = workload match {
      case "api_interactive" => new ApiInteractive(Json.read(s"$data/ops.json"))
      case "llm_curation" => new LlmCuration(Json.read(s"$data/params.json"))
      case other => sys.error(s"unknown workload $other")
    }
    def since = (System.currentTimeMillis() - jvmStart) / 1000.0
    System.err.println(f"[bench] session ready at $since%.2f s")
    wl.open(ctx)
    System.err.println(f"[bench] tables open at $since%.2f s")
    (1 to warmup).foreach { i =>
      wl.pass(ctx)
      System.err.println(f"[bench] warm-up pass $i done at $since%.2f s")
    }
    val setupS = since

    val codegenBefore = Codegen.snapshot()
    val guardBefore = graft.CodegenGuard.failures
    val passWall = mutable.ArrayBuffer.empty[(Long, Long)]
    // a fixed number of passes for a given --seconds, so every run of a
    // workload times the same calls whatever the host's speed
    val passes = math.max(1, math.round(seconds / wl.nominalPassS).toInt)
    for (p <- 0 until passes) {
      ctx.pass = p
      tracer.pass = p
      val t0 = System.nanoTime()
      wl.pass(ctx)
      passWall += ((t0, System.nanoTime()))
    }
    tracer.pass = -1
    val codegen = Codegen.delta(codegenBefore)
    val fallbacks = graft.CodegenGuard.failures - guardBefore
    val liveHeap = Report.liveHeapMb()

    val layers =
      if (trace) {
        BusDrain(spark.sparkContext)
        Report.perLayer(ctx, passWall.toSeq, codegen, fallbacks)
      } else Map.empty[String, Double]
    if (trace) Report.writeTrace(s"$out/trace.json", ctx, passWall.toSeq)

    val unified = Report.unifiedMemoryMb(spark)
    Json.write(s"$out/result.json", Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "warmup_passes" -> warmup,
      "cores" -> cores,
      "pass_ms" -> passWall.map { case (a, b) => (b - a) / 1e6 }.toSeq,
      "ops" -> ctx.ops.map(o => Map("pass" -> o.pass, "name" -> o.name, "key" -> o.key,
        "ms" -> o.ms, "digest" -> o.digest, "returned" -> o.returned)).toSeq,
      "last_rows" -> ctx.lastRows.toMap,
      "notes" -> ctx.notes.toMap,
      "per_layer" -> layers,
      "unified_memory_mb" -> unified,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "vmhwm_mb" -> Report.vmHwmMb(),
      "heap_committed_mb" -> Report.heapCommittedMb(),
      "live_heap_mb" -> liveHeap))
    spark.stop()
  }
}

/** CodegenMetrics deltas: classes compiled and an estimate of the time
  * spent (compile count × the histogram's sampled mean). */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def snapshot(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
  def delta(before: (Long, Double)): (Long, Double) = {
    val (n1, mean1) = snapshot()
    val n = n1 - before._1
    (n, n * mean1)
  }
}

/** Minimal JSON: Jackson for reading, a small writer for Scala values. */
object Json {
  private val mapper = new ObjectMapper()
  def read(path: String): JsonNode = mapper.readTree(new File(path))

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => render(x.toString)
  }

  def write(path: String, v: Any): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.write(render(v)) finally w.close()
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the run record. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${render(x)}" }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def writeFile(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), render(v))
}

/** One benchmark run of one workload in a fresh JVM.
  *
  * {{{
  * perfbench.Main --workload <name> --input <dir> --out <dir> --ops <n>
  *   --cores <n> --trace <0|1> --local-dir <dir> --result <file>
  *   [--queries <q1,q2,...>]
  * }}}
  *
  * The timed section starts after the session is ready and ends when the
  * last op returns; checks run after it. The run record (op times, CPU,
  * peak RSS, failures, and with `--trace 1` spans and Spark counters) is
  * written to `--result` as JSON.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val uptimeAtMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val ops = a("ops").toInt
    val cores = a("cores").toInt
    val traced = a("trace") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyS = uptimeAtMainS + (System.nanoTime() - mainNs) / 1e9

    val trace = if (traced) Some(new SparkTrace(spark)) else None
    val r = new Run(spark, trace.getOrElse(NoTrace), traced, a("input"),
      a("out"))
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    trace.foreach(_.start())
    val cpu0 = cpu.getProcessCpuTime
    val t0 = System.nanoTime()
    var afterTimed: () => Unit = () => ()
    workload match {
      case "er_pipeline" => Workloads.erPipeline(r, ops)
      case "catalog_cold" =>
        Workloads.catalog(r, a("queries").split(",").toSeq.take(ops))
      case "dedup_ingest" =>
        val (pairs, novel) = Workloads.dedupIngest(r, ops)
        afterTimed = () => Workloads.dedupChecks(r, ops, pairs, novel)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val t1 = System.nanoTime()
    val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
    val rssMb = peakRssMb()
    val storage = spark.sparkContext.getRDDStorageInfo
    val pinnedMb = storage.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val pinnedBlocks = storage.map(_.numCachedPartitions.toLong).sum
    trace.foreach(_.stop())
    afterTimed()

    val record = Map(
      "cores" -> cores,
      "session_ready_s" -> readyS,
      "wall_s" -> (t1 - t0) / 1e9,
      "cpu_s" -> cpuS,
      "max_rss_mb" -> rssMb,
      "pinned_mb" -> pinnedMb,
      "pinned_blocks" -> pinnedBlocks,
      "attempted" -> r.attempted,
      "op_s" -> r.opSeconds,
      "failures" -> r.failures,
      "info" -> r.info) ++ trace.map(_.report(t0)).getOrElse(Map.empty)
    Json.writeFile(a("result"), record)
    spark.stop()
  }

  /** Peak resident set (VmHWM) of this JVM, in MiB. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return Double.NaN
    Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Wait until every posted listener event has been delivered. The bus
    * is not public API, so it is reached by reflection, with a short
    * settle wait as the fallback. */
  def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch {
      case _: ReflectiveOperationException => Thread.sleep(1000)
    }
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point: runs ONE workload in this JVM and writes its
 * figures as JSON (`--out`). `perfbench/run.py` builds the program,
 * starts this JVM, adds host context and prints the result line.
 *
 * Usage: perfbench.Main --workload drain|paced|suite --seed N --seconds S
 *        --trace 0|1 --work DIR --out FILE [--spans FILE] [--data DIR]
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String, spans: Option[String], data: Option[String]) {
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("out"), m.get("spans"), m.get("data"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val run = new Run(args)
    val result =
      try {
        args.workload match {
          case "drain" => Streams.drain(run)
          case "paced" => Streams.paced(run)
          case "suite" => Suite.run(run)
          case w => sys.error(s"unknown workload: $w")
        }
        run.json
      } finally {
        SparkSession.getActiveSession.foreach(_.stop())
        args.spans.foreach(p => Files.write(Paths.get(p), run.spansJson.getBytes(UTF_8)))
      }
    Files.write(Paths.get(args.out), result.getBytes(UTF_8))
  }
}

/** Mutable state of one benchmark run: figures, checks and the tracer. */
final class Run(val args: Main.Args) {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.ArrayBuffer.empty[(String, Long, Long, String)]
  val heap = new HeapWatch
  /** Spans are recorded only by the traced measurement of a `--trace 1` run. */
  var tracer = new Tracer(false)

  /** Seconds since this JVM started: set-up is timed from process start. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Records `attempted` operations of one kind, `failed` of them failed or wrong. */
  def check(name: String, attempted: Long, failed: Long, detail: String = ""): Unit = synchronized {
    checks += ((name, attempted, failed, detail))
    if (failed > 0) System.err.println(s"[perfbench] CHECK FAILED $name: $failed/$attempted $detail")
  }

  /** Runs a measurement once untraced (`--trace 0`), or three times
    * (`--trace 1`): the first run, traced, gives the per-layer figures and
    * the spans; an untraced and a traced run after it give the tracing
    * overhead on `time` (seconds). The third run is the warmer of the
    * two, so a workload still warming up reads a lower overhead. */
  def measure[T](run: Boolean => T, time: T => Double): T =
    if (!args.trace) run(false)
    else {
      tracer = new Tracer(true)
      val first = run(true)
      val kept = tracer
      tracer = new Tracer(false)
      val plain = time(run(false))
      tracer = new Tracer(true)
      val traced = time(run(true))
      tracer = kept
      layers("trace.overhead_pct") = 100.0 * (traced - plain) / plain
      first
    }

  /** Notes a phase in the run's log with the time since JVM start. */
  def log(what: String): Unit = System.err.println(f"[perfbench] $sinceJvmStart%.2f s: $what")

  def attempted: Long = synchronized(checks.map(_._2).sum)
  def failed: Long = synchronized(checks.map(_._3).sum)

  def session(cores: Int): SparkSession = {
    val local = s"${args.work}/spark-local"
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", 32 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
  }

  /** The run's figures and checks; a figure that is not finite is written as null. */
  def json: String = {
    def finite(m: mutable.LinkedHashMap[String, Double]) =
      m.map { case (k, v) => k -> Some(v).filterNot(x => x.isNaN || x.isInfinite) }
    Run.mapper.writeValueAsString(Map(
      "attempted" -> attempted,
      "failed" -> failed,
      "e2e" -> finite(e2e),
      "layers" -> finite(layers),
      "checks" -> synchronized(checks.toSeq).map { case (n, a, f, d) =>
        Map("name" -> n, "attempted" -> a, "failed" -> f, "detail" -> d) }))
  }

  def spansJson: String = Run.mapper.writeValueAsString(tracer.all)
}

object Run {
  /** Jackson, as Spark ships it, with Scala collections and case classes. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

package cdcbench

import java.nio.file.{Files, Path, Paths}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Prints, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics` (the end-to-end set untraced, the
  * per-layer set traced). Every fixture, checkpoint and table lives
  * under one per-run directory on `java.io.tmpdir`, deleted on the way
  * out, failure or not. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, traceOut: Option[Path])

  val Workloads: Seq[String] = Seq("live_upsert", "changelog_scan")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    val w = kv.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))
    require(Workloads.contains(w), s"unknown workload '$w' (known: ${Workloads.mkString(", ")})")
    val trace = kv.getOrElse("trace", "0")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Opts(w, kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "20").toInt,
      trace == "1", kv.get("trace-out").map(Paths.get(_)))
  }

  def main(args: Array[String]): Unit = {
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val o = parse(args)
    val root = Files.createTempDirectory(
      Paths.get(System.getProperty("java.io.tmpdir")), "cdcbench-")
    val cleanup = new Thread(() => graft.Fs.deleteRecursively(root))
    Runtime.getRuntime.addShutdownHook(cleanup)
    val code =
      try {
        println(new Bench(o, root, jvmStartS).run())
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally graft.Fs.deleteRecursively(root)
    System.out.flush()
    // exit explicitly: a lingering non-daemon thread must not keep the
    // JVM (and the caller waiting on it) alive
    System.exit(code)
  }
}

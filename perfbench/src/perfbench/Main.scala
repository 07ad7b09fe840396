package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** One benchmark run in its own JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cpus <n> --data <sfDir> --work <dir> --out <result.json>
  *
  * Writes {attempted, failed, metrics, info} to `--out`; `run.py` turns
  * that into the benchmark's printed result. Every metric the run can
  * compute is written; run.py keeps the ones BENCHMARK.json names for the
  * mode.
  */
final case class Ctx(workload: String, seed: Long, seconds: Double,
                     trace: Boolean, cpus: Int, data: String, work: Path) {
  /** The one session shape every workload uses: local[cpus] with
    * shuffle partitions = cpus, the program's own tuned settings, and
    * scratch space inside the work directory.
    */
  def session(): SparkSession = {
    val s = Sessions.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Sessions.quietBoundedWindowWarns()
    s
  }
}

final case class Result(attempted: Long, failed: Long,
                        metrics: Map[String, Double], info: Map[String, Any])

object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val ctx = Ctx(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o.get("trace").contains("1"), o("cpus").toInt, o("data"),
      Path.of(o("work")))
    Files.createDirectories(ctx.work)
    // exit explicitly either way: non-daemon threads of a failed run
    // must not keep the JVM alive
    try {
      val r = ctx.workload match {
        case "follow" => Follow.run(ctx)
        case "selftest" => SelfTest.run(ctx)
        case "digests" => QueryBench.digestDump(ctx, o("verify"))
        case w if QueryBench.lists.contains(w) => QueryBench.run(ctx)
        case w => sys.error(s"unknown workload '$w'")
      }
      Files.writeString(Path.of(o("out")), Util.json(Map(
        "attempted" -> r.attempted, "failed" -> r.failed,
        "metrics" -> r.metrics, "info" -> r.info)))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
    System.exit(0)
  }
}

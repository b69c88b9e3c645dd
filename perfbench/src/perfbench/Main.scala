package perfbench

import org.apache.spark.sql.SparkSession

/** Arguments passed from `run.py`. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    out: String,
    work: String,
    cpus: Int,
    pgBin: String = "",
    pgSock: String = "",
    pgPort: Int = 5432,
    genOnly: Boolean = false)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = m.getOrElse("seconds", "10").toInt,
      trace = m.getOrElse("trace", "0") == "1",
      out = need("out"),
      work = need("work"),
      cpus = m.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt,
      pgBin = m.getOrElse("pg-bin", ""),
      pgSock = m.getOrElse("pg-sock", ""),
      pgPort = m.getOrElse("pg-port", "5432").toInt,
      genOnly = m.getOrElse("gen-only", "0") == "1")
  }
}

/** A workload: `inputs` generates (and digests) the seeded inputs,
  * `run` sets up, measures and checks.
  */
trait Workload {
  def digest(a: Args): (String, Map[String, Any])
  def run(a: Args, rec: Rec, spark: SparkSession): Unit
}

/** Entry point. Runs one workload and writes its raw record (samples,
  * spans, checks, input properties) to `--out` as JSON; `run.py` turns
  * the record into metrics.
  */
object Main {
  val workloads: Map[String, Workload] = Map(
    "live_steady" -> Live,
    "replay_backlog" -> Replay,
    "replica_upsert" -> Replica,
    "vector_link" -> VectorLink)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val w = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val out = new java.io.File(a.out)
    if (a.genOnly) {
      val (hex, props) = w.digest(a)
      write(out, Json.write(Map("digest" -> hex, "inputs" -> props)))
      return
    }
    val rec = new Rec(a.trace)
    val spark = Sessions.spark(a.cpus)
    rec.set("spark_ready_us", Clock.nowUs)
    try w.run(a, rec, spark)
    catch { case e: Throwable =>
      rec.check("run completed", ok = false, e.toString)
      e.printStackTrace()
    }
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.shuffle") || k.startsWith("spark.sql.adaptive") ||
        k == "spark.master" || k.startsWith("spark.driver") || k == "spark.sql.session.timeZone"
    }
    rec.set("peak_rss_mb", Jvm.peakRssMb)
    write(out, rec.toJson(Map(
      "runtime" -> Map(
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "spark_conf" -> conf,
        "java" -> System.getProperty("java.version")))))
    spark.stop()
  }

  private def write(f: java.io.File, s: String): Unit = {
    val tmp = new java.io.File(f.getPath + ".tmp")
    java.nio.file.Files.write(tmp.toPath, s.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}

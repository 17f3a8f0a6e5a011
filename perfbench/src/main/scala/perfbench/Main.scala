package perfbench

/** Arguments of one benchmark process, passed as `key=value` pairs by
  * `run.py`. `names` is read from a file with one query name per line. */
final case class Args(kv: Map[String, String]) {
  def mode: String = kv("mode")
  def seed: Long = kv("seed").toLong
  def traced: Boolean = kv.get("trace").contains("1")
  def out: String = kv("out")
  def spawnMs: Long = kv("spawn_ms").toLong
  def dataDir: String = kv("data")
  def workDir: String = kv("work")
  def seconds: Int = kv("seconds").toInt
  def names: Seq[String] = {
    val src = scala.io.Source.fromFile(kv("names"), "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).toList finally src.close()
  }
}

/** Entry point of one benchmark process:
  *   mode=query  names=<file> seed=<n> seconds=<n> data=<dir> trace=<0|1> spawn_ms=<epoch ms> out=<json>
  *   mode=ingest seed=<n> seconds=<n> work=<dir> trace=<0|1> spawn_ms=<epoch ms> out=<json>
  *   mode=fingerprint names=<file> data=<verify dump dir> out=<json>
  * Writes one JSON document to `out`; exit code 0 unless the process
  * itself could not run. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv.iterator.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap)
    val result = a.mode match {
      case "query" => QueryRun.run(a)
      case "ingest" => IngestRun.run(a)
      case "fingerprint" => expected(a)
      case other => sys.error(s"unknown mode $other")
    }
    Host.writeJson(a.out, result)
  }

  /** Fingerprints of a `graft.Verify` dump (one parquet dir per query):
    * the expected values the benchmark checks its own results against. */
  private def expected(a: Args): Map[String, Any] = {
    val spark = Host.querySession(Host.nproc)
    val fps = a.names.map(n => n -> Fingerprint.of(spark.read.parquet(s"${a.dataDir}/$n"))).toMap
    spark.stop()
    fps
  }
}

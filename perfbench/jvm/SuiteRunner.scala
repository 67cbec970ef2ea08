package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** The `suite_sf01` workload's program side: the registered queries under
  * `graft.Bench`'s session settings (passed in as `-Dspark.*` properties,
  * which the load generator reads out of Bench.scala's builder chain).
  *
  * Usage: SuiteRunner <sfDir> <orderFile> <seconds> <outDir>
  *
  *   - setup, timed separately: session, pin, IVF index, keyed layout, and
  *     one warm pass to the noop sink, so the timed queries find their
  *     generated code compiled;
  *   - timed: whole passes, each in the order of the next line of
  *     `orderFile`, until `seconds` have passed; every query writes to the
  *     noop sink, like Bench;
  *   - check, untimed: every result written as parquet to `outDir/check`
  *     for the DuckDB comparison.
  *
  * Writes `phases.json` and `ops.jsonl` (one line per query run: pass 0 is
  * the warm pass, -1 the check pass). */
object SuiteRunner {
  private def esc(s: String): String = TraceBuffer.str(s)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, orderFile, secondsArg, outDir) = args.take(4)
    val seconds = secondsArg.toDouble
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failures = Seq.newBuilder[String]
    def phase[T](name: String)(body: => T): Unit = {
      val t0 = System.nanoTime()
      try body
      catch { case e: Throwable => failures += s"$name: ${e.getMessage}" }
      phases(name) = (System.nanoTime() - t0) / 1e9
    }

    var spark: SparkSession = null
    phase("session") {
      spark = SparkSession.builder().getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
    }
    phase("pin")(Tables.pin(spark, sfDir))
    phase("ivf")(graft.ext.IvfIndex.centroids(spark, sfDir).count())
    phase("keyed")(Tables.keyed(spark, sfDir, "orders", "o_custkey", "customer").count())

    val queries = SparkEntry.queries
    val orders = Files.readAllLines(Paths.get(orderFile)).toArray.map(_.toString.split(",").toSeq)
    val ops = new StringBuilder
    var opId = 0
    def run(pass: Int, name: String)(write: org.apache.spark.sql.DataFrame => Unit): Unit = {
      opId += 1
      spark.sparkContext.setJobGroup(s"op$opId", name)
      val start = TraceBuffer.nowUs
      val t0 = System.nanoTime()
      val err = try {
        graft.ops.PlanProfile.withProfile(spark, name)(write(queries(name)(spark, sfDir)))
        null
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      val ms = (System.nanoTime() - t0) / 1e6
      ops.append(s"""{"op":$opId,"pass":$pass,"name":${esc(name)},"start_us":$start,""" +
        s""""end_us":${TraceBuffer.nowUs},"ms":$ms,"ok":${err == null},"error":${esc(err)}}""" + "\n")
    }

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    phase("warmup")(orders(0).foreach(name => run(0, name)(noop)))
    println("PB ready")
    System.out.flush()

    val t0 = System.nanoTime()
    var pass = 1
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      orders(pass % orders.length).foreach(name => run(pass, name)(noop))
      pass += 1
    }
    val checkDir = out.resolve("check").toString
    phase("check")(orders(0).foreach(name => run(-1, name)(
      _.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name"))))
    spark.sparkContext.clearJobGroup()

    def write(name: String, text: String): Unit =
      Files.write(out.resolve(name), text.getBytes(StandardCharsets.UTF_8))
    write("ops.jsonl", ops.toString)
    write("phases.json",
      phases.map { case (k, v) => s"${esc(k)}:$v" }.mkString("{\"phases\":{", ",", "},") +
        "\"failures\":" + failures.result().map(esc).mkString("[", ",", "]") +
        s""","spark_version":${esc(spark.version)},"gc_ms":${TraceBuffer.counters()(2)._2}}""")
    TraceBuffer.flush()
    spark.stop()
  }
}

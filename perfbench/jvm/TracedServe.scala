package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.engine.{Results, SqlGateway}
import graft.http.Json

/** A ServeMain node for the traced run. It runs the shipped
  * `graft.http.ServeMain.main` with the same arguments in a daemon thread,
  * so the session and service are ServeMain's own, then takes replay
  * commands on stdin, one per line, and answers each with `PB done`:
  *
  *   - `read <sqlFile> <outFile>`: each statement through
  *     `SqlGateway.queryDf`, `Results.fromDataFrame` and `Json`, timed
  *     separately, with the Spark job group set to the op's span id;
  *   - `write <sqlFile> <outFile>`: each statement through
  *     `SqlGateway.execute` on a standalone gateway;
  *   - `flush`: write the trace buffer out.
  *
  * `sqlFile` holds one JSON string per line. */
object TracedServe {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val serve = new Thread(() => graft.http.ServeMain.main(args), "servemain")
    serve.setDaemon(true)
    serve.start()
    while (SparkSession.getDefaultSession.isEmpty) Thread.sleep(20)
    lazy val gateway = new SqlGateway(SparkSession.getDefaultSession.get)
    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    var line = in.readLine()
    while (line != null) {
      line.split(" ").toSeq match {
        case Seq("read", sqlFile, outFile) => replay(gateway, sqlFile, outFile, read)
        case Seq("write", sqlFile, outFile) => replay(gateway, sqlFile, outFile, write)
        case Seq("flush") => TraceBuffer.flush()
        case other => System.err.println(s"[perfbench] unknown command: $other")
      }
      println("PB done")
      System.out.flush()
      line = in.readLine()
    }
  }

  private def replay(gw: SqlGateway, sqlFile: String, outFile: String,
      one: (SqlGateway, String) => Seq[(String, Any)]): Unit = {
    val sc = gw.spark.sparkContext
    val lines = Files.readAllLines(Paths.get(sqlFile), StandardCharsets.UTF_8).asScala
    val out = lines.zipWithIndex.map { case (l, i) =>
      val sql = mapper.readValue(l, classOf[String])
      sc.setJobGroup(s"r$i", "replay")
      val t0 = TraceBuffer.nowUs
      val fields = try one(gw, sql) catch {
        case e: Throwable => Seq("ok" -> false, "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      (Seq("i" -> i, "group" -> s"r$i", "t0" -> t0, "end" -> TraceBuffer.nowUs) ++ fields).map {
        case (k, v: String) => s"${TraceBuffer.str(k)}:${TraceBuffer.str(v)}"
        case (k, v) => s"${TraceBuffer.str(k)}:$v"
      }.mkString("{", ",", "}")
    }
    sc.clearJobGroup()
    Files.write(Paths.get(outFile), out.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def read(gw: SqlGateway, sql: String): Seq[(String, Any)] = {
    val df = gw.queryDf(sql)
    val t1 = TraceBuffer.nowUs
    val phases = df.queryExecution.tracker.phases
    def p(n: String): Long = phases.get(n).map(_.durationMs).getOrElse(0L)
    val res = Results.fromDataFrame(df)
    val t2 = TraceBuffer.nowUs
    val body = Seq(
      "columns" -> Json.arr(res.columns.map(Json.str)),
      "types" -> Json.arr(res.types.map(Json.str)),
      "values" -> Json.arr(res.values.map(row => Json.arr(row.map(Json.value)))))
      .map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    Seq("ok" -> true, "t1" -> t1, "t2" -> t2, "t3" -> TraceBuffer.nowUs,
      "parse_ms" -> p("parsing"), "analysis_ms" -> p("analysis"),
      "rows" -> res.values.size, "bytes" -> body.length)
  }

  private def write(gw: SqlGateway, sql: String): Seq[(String, Any)] = {
    val r = gw.execute(sql)
    Seq("ok" -> true, "rows" -> r.rowsAffected)
  }
}

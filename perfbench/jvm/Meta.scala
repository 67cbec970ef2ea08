package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes the program's registered-query metadata, once per build:
  * `oracle_sql.json` (query name -> DuckDB statement) and `modules.json`
  * (registering object -> query names). Usage: Meta <outDir> */
object Meta {
  def main(args: Array[String]): Unit = {
    import TraceBuffer.str
    val modules = Seq(
      "ops.Relational" -> graft.ops.Relational.queries, "ops.Analytic" -> graft.ops.Analytic.queries,
      "ops.Scalars" -> graft.ops.Scalars.queries, "ops.ScaleJoins" -> graft.ops.ScaleJoins.queries,
      "ops.Dialect" -> graft.ops.Dialect.queries, "ext.Dedup" -> graft.ext.Dedup.queries,
      "ext.Similarity" -> graft.ext.Similarity.queries, "ext.TextAnalysis" -> graft.ext.TextAnalysis.queries,
      "ext.Multimodal" -> graft.ext.Multimodal.queries, "ext.Corpus" -> graft.ext.Corpus.queries)
    def write(name: String, text: String): Unit =
      Files.write(Paths.get(args(0), name), text.getBytes(StandardCharsets.UTF_8))
    write("modules.json", modules.map { case (m, qs) =>
      s"${str(m)}:" + qs.keys.toSeq.sorted.map(str).mkString("[", ",", "]") }.mkString("{", ",", "}"))
    write("queries.json", graft.SparkEntry.queries.keys.toSeq.sorted.map(str).mkString("[", ",", "]"))
    write("oracle_sql.json", graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}"))
  }
}

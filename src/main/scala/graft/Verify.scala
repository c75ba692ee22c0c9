package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val sqlOnly = args.length > 2 && args(2) == "--sql-only"
    // --only=q37_metric_menu,q50_... : re-dump a subset (iteration aid)
    val only = args.drop(2).find(_.startsWith("--only="))
      .map(_.stripPrefix("--only=").split(",").toSet)
    new java.io.File(outDir).mkdirs()
    // q32's oracle SQL embeds a LITERAL plane matrix whose dim must
    // match the corpus (the Spark side derives dim from the data and
    // hard-fails on any mismatching row) — probe the corpus dim here
    // and THREAD it into the emitted oracle, so a non-64-dim corpus
    // gets a correct mirror instead of a refusal. An unreadable/empty
    // embeddings table must NOT abort the whole dump — q32 alone fails
    // inside its own try below, and the default-dim SQL it gets can't
    // "pass wrong" against a table that doesn't read.
    var derivedDim: Option[Int] = None
    if (!sqlOnly) {
      val spark = GraftSession.local()
      // probe only when q32 is in scope: a --only subset without it
      // should not pay an embeddings read or warn about one failing
      if (only.forall(_.contains("q32_emb_lsh_pairs")))
        derivedDim =
          try Some(spark.read.parquet(s"$sfDir/embeddings.parquet")
            .selectExpr("size(embedding)").head().getInt(0))
          catch { case e: Throwable =>
            System.err.println(s"[verify] embeddings dim probe failed " +
              s"(q32 oracle keeps its default dim): ${e.getMessage}")
            None
          }
      SparkEntry.queries
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
      spark.stop()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sqlMap = SparkEntry.oracleSql ++ derivedDim.map(d =>
      "q32_emb_lsh_pairs" ->
        ("WITH " + graft.emb.EmbeddingOps.lshNearDupSql(dim = d)))
    val json = sqlMap
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}

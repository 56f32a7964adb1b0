package graft.tools
import graft.api.GameService
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val svc = GameService.forDir(spark, "/root/testdata/sf0.001")
    val out = Map(
      "games_limit3" -> svc.gamesList(Some("3")),
      "search_merge_limit2" -> svc.search(Some("merge"), Some("2")),
      "vector_search_limit2" -> svc.vectorSearch(Some("spark engine"), Some("2")),
      "similar_search_42_limit2" -> svc.similarSearch("42", Some("2")),
      "stats" -> svc.stats(),
      "search_missing_q" -> svc.search(None, None),
      "similar_search_bad_id" -> svc.similarSearch("abc", None),
      "similar_search_no_emb" -> svc.similarSearch("999999123", None)
    )
    out.foreach { case (name, json) =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"src/test/resources/golden/$name.json"), json)
    }
    spark.stop()
    println("GOLDEN DONE")
  }
}

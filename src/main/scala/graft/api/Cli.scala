package graft.api

/** CLI emitting the SAME envelope JSON as the HTTP endpoints — the
  * headless form of the §2.10 surface (the reference's CLI,
  * src/interactive.ts:5-20, prints tables; this one prints the API
  * payloads so the surface is scriptable without a port).
  *
  * Usage: `runMain graft.api.Cli <dataDir> <endpoint> [k=v ...]`, e.g.
  *   Cli /root/testdata/sf0.001 games limit=5
  *   Cli /root/testdata/sf0.001 search q=merge limit=3
  *   Cli /root/testdata/sf0.001 similar-search universeId=42
  *   Cli /root/testdata/sf0.001 stats
  */
object Cli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Cli <dataDir> <endpoint> [k=v ...]")
    val Array(dataDir, endpoint) = args.take(2)
    val params: Map[String, String] =
      args.drop(2).flatMap { a =>
        a.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap
    val spark = ApiServer.session()
    val service = GameService.forDir(spark, dataDir)
    val out = endpoint match {
      case "games" => service.gamesList(params.get("limit"))
      case "search" => service.search(params.get("q"), params.get("limit"))
      case "vector-search" => service.vectorSearch(params.get("q"), params.get("limit"))
      case "similar-search" =>
        service.similarSearch(params.getOrElse("universeId", ""), params.get("limit"))
      case "stats" => service.stats()
      case other => JsonEnvelope.fail(s"Unknown endpoint: $other")
    }
    spark.stop()
    // the envelope is the last clean stdout line
    println(out)
  }
}

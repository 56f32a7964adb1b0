package graft.model

import org.apache.spark.sql.types._

/** Core data model of the engine, derived from the reference's `Game`
  * record (reference: src/types.d.ts:59-66).
  *
  * The reference keeps a tri-state `description` (absent = never fetched,
  * null = fetched-and-blank, string = present — reference:
  * src/lib/commands/downloadDescriptions.ts:13-18). Spark `null` conflates
  * the first two states, so the engine carries an explicit
  * `descriptionFetched` flag when fidelity matters (see QualityOps).
  */
object Schemas {
  /** games.json-compatible schema (reference: src/types.d.ts:59-66). */
  val game: StructType = StructType(Seq(
    StructField("universeId", LongType, nullable = false),
    StructField("rootPlaceId", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("description", StringType, nullable = true),
    StructField("gameplayDescription", StringType, nullable = true),
    StructField("playerCount", LongType, nullable = true)
  ))
}

/** Every quantitative constant the reference defines (BASELINE.md). */
object Constants {
  // The scoring bands (reference: src/endpoints/search.get.ts:113-188)
  // are literals in TextSearch and its oracle SQL; BASELINE.md lists them.

  // Popularity factor min(0.2, playerCount/500) + 0.8 ∈ [0.8, 1.0]
  // (reference: src/endpoints/search.get.ts:120-121)
  val PopularityCap = 0.2
  val PopularityDivisor = 500.0
  val PopularityFloor = 0.8

  // Result caps (reference: src/lib/commands/search.ts:14-25)
  val DefaultLimit = 10
  val MaxLimit = 100
  val JobsMaxLimit = 1000

  // Batch sizes (reference: src/lib/commands/roblox.ts:24, generateEmbeddings.ts:53)
  val RobloxBatchSize = 50
  val EmbeddingBatchSize = 10

  // 429 backoff (reference: src/lib/commands/roblox.ts:32-33)
  val RateLimitBackoffMs = 30000L
}

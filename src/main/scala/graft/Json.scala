package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The engine's one JSON codec: Spark's bundled Jackson with the Scala
  * module. Case classes map to snake_case objects, and reading is strict —
  * a missing, null or unknown field, a document cut short or trailing bytes
  * fail the read instead of yielding a partial value.
  */
object Json {
  val mapper: ObjectMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()
}

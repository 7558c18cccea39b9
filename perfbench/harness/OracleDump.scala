package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.OracleSql

/** Writes the DuckDB oracle SQL the reference replay needs as one JSON
  * object: the `OracleSql` mirrors of the pipeline stages. Starts no
  * Spark session.
  *
  * Usage: OracleDump OUT.json */
object OracleDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: OracleDump OUT.json")
    val stages = Map(
      "quality" -> OracleSql.qualityFilter(injectPct = 0, injectSuffix = "",
        minTokens = 15, maxTokens = 100000, minMeanTokLen = 4.0, maxMeanTokLen = 12.0,
        maxTopTokRatio = 0.2, minStopwords = 2, idCol = "doc_id"),
) ++
      Seq("doc_id", "l_orderkey").map(id =>
        s"manifest:$id" -> OracleSql.shardManifest(nShards = Workloads.Shards, idCol = id))
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(stages)
    Files.write(Paths.get(args(0)), json.getBytes(StandardCharsets.UTF_8))
  }
}

package graft.tools

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Fixture generator for RegistrySpec's oracle-identity golden: writes
  * the sha-256 of every registry query's oracle SQL (UTF-8 bytes) to a
  * JSON resource, one `"name": "hex"` line per query, sorted by name.
  * Re-run ONLY when an oracle's SQL changes on purpose:
  *
  *   sbt "Test/runMain graft.tools.SnapshotOracleSql \
  *     src/test/resources/oracle_sql_sha256.json"
  *
  * A refactor of the query registry must leave every hash as it is.
  */
object SnapshotOracleSql {
  def sha256(sql: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(sql.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def hashes: Seq[(String, String)] =
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (name, sql) => name -> sha256(sql) }

  def main(args: Array[String]): Unit = {
    val lines = hashes.map { case (name, h) => s"""  "$name": "$h"""" }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      lines.mkString("{\n", ",\n", "\n}\n"))
    println(s"[snapshot] wrote ${lines.size} oracle hashes to ${args(0)}")
  }
}

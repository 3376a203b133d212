package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** `workDir/schemas.json` must stay valid JSON whatever column names the source's
  * envelopes carry — the next run's load depends on it. */
class SchemaRegistrySpec extends AnyFunSuite {

  test("column names with control characters, quotes and backslashes round-trip") {
    val path = Files.createTempDirectory("graft-schemas").resolve("schemas.json").toString
    val cols = Seq("a\u0007b" -> LongType, "q\"uo\\te" -> StringType, "tab\tnl\n" -> LongType,
      "plain" -> StringType)
    new CdcRunner.SchemaRegistry(path).put("t1", cols)
    assert(new CdcRunner.SchemaRegistry(path).get("t1") == cols)
  }
}

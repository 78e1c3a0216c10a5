package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM), built by
  * the engine's own recipe ([[graft.core.Engine.session]]), so the
  * tests run the confs and the optimizer pipeline the server runs. */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Engine.session("graft-test",
    extraConf = Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString))
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Parity, bench, profiler and specs share one session config
  * ([[graft.util.Sessions]]): the specs must run what ships, and no
  * second copy of the builder may grow back.
  */
class SessionsSpec extends SparkSuite {

  test("the shared test session carries the shipped settings") {
    def conf(k: String) = spark.conf.get(k)
    assert(conf("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(conf("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.defaultParallelism == 4)
  }

  test("util/Sessions.scala holds the only session builder under src/") {
    // built at run time so this file does not match its own scan
    val needle = Seq("SparkSession", "builder").mkString(".")
    val walk = Files.walk(Paths.get("src"))
    val hits =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
        .map(_.toString).toList
      finally walk.close()
    assert(hits == List("src/main/scala/graft/util/Sessions.scala"))
  }
}

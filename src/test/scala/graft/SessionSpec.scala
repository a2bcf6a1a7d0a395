package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the settings every graft session gets from [[Session.local]]
  * (the shared test session is built by it) and guards that no code in
  * `src/main` builds a session any other way, so the settings cannot
  * drift apart again. */
class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("factory settings: UTC, TIME type on, UI off, shuffle partitions = cores") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") == "local[8]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.timeType.enabled") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") ==
      Session.stateStores("default"))
  }

  test("factory settings: a fresh warehouse directory under the temp dir") {
    val wh = Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    assert(wh.startsWith(Paths.get(System.getProperty("java.io.tmpdir"))), wh)
    assert(wh.getFileName.toString.startsWith("graft_wh"), wh)
  }

  test("an unknown state-store label is rejected before any session is built") {
    val e = intercept[IllegalArgumentException](Session.local(1, 1, "memory"))
    assert(e.getMessage.contains("memory") && e.getMessage.contains("rocksdb"))
  }

  test("SparkSession.builder appears in src/main only inside graft/Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.walk(root)
    val builders =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder")).toList
      finally files.close()
    assert(builders.map(root.relativize) == List(Paths.get("graft/Session.scala")))
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a local SparkSession: Bench, Verify, the
  * tools and the test suites all come through [[Session.local]], so
  * their settings cannot drift apart.
  *
  * Fixed for every session: UTC session time zone, Spark's native TIME
  * type on (the Flink `TIME(p)` analog — see `sql/Ddl.scala`), UI off,
  * shuffle partitions equal to the core count unless a caller sweeps
  * them, a fresh temporary warehouse directory, and log level WARN.
  */
object Session {

  /** State-store provider classes by label: Spark's HDFS-backed default
    * and RocksDB (the reference's RocksDBStateBackend analog). */
  val stateStores: Map[String, String] = Map(
    "default" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** A `local[cores]` session with `cores` shuffle partitions. */
  def local(cores: Int): SparkSession = local(cores, cores, "default")

  /** A `local[cores]` session with `shufflePartitions` shuffle (and
    * therefore state) partitions and the state store labelled
    * `stateStore` in [[stateStores]]. */
  def local(cores: Int, shufflePartitions: Int, stateStore: String): SparkSession = {
    val provider = stateStores.getOrElse(stateStore, throw new IllegalArgumentException(
      s"unknown state store '$stateStore' (expected one of ${stateStores.keys.mkString(", ")})"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.streaming.stateStore.providerClass", provider)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stop `spark` and clear the active and default sessions, so the next
    * [[local]] builds a fresh session instead of returning this one. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

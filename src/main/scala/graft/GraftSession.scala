package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession builder: every main and the test suite run
  * with this SQL conf. Callers choose only the master and the shuffle
  * partition count. AQE and its skew-join split are Spark 4 defaults. */
object GraftSession {
  def apply(master: String, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      // the pre-aggregate holds a few thousand distinct keys per partition;
      // the 128-key default would flip ObjectHashAggregate into sort-based
      // fallback and SORT the corpus-sized stream (buffers stay bounded —
      // ProvenanceCap exemplars per key — so a big hash map is safe)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.OrderGen

/** Seeded inputs for the stream workloads.
  *
  * Every input is a pure function of (seed, row index), so one seed gives
  * the same topic files on every run. Next to each topic it writes a
  * `truth` parquet (offset, price before encoding, corrupt-frame kind)
  * from the same generator frame; the output checker derives expected
  * outcomes from it, never from the pipeline's router.
  */
object Inputs {

  /** Corrupt-frame kinds of the `faults` mix; -1 marks an intact frame.
    * Each kind breaks the OCF framing so that no decoder can accept it:
    * the container cut in half (inside the embedded schema), one bit
    * flipped in the `Obj\x01` magic, or bytes of another format. */
  val Truncated = 0
  val MagicBitFlip = 1
  val Foreign = 2

  private def draw(seed: Long, salt: String, m: Long, index: String = "seq") =
    pmod(xxhash64(lit(seed), lit(salt), col(index)), lit(m))

  /** Corrupt-frame kind of a row, from its index column. */
  private def corruptKind(seed: Long, index: String) =
    when(draw(seed, "corrupt", 1000, index) < 100, draw(seed, "kind", 3, index).cast("int"))
      .otherwise(lit(-1))

  /** The reference producer's mix: OrderGen's uniform [5.00, 1500.00]
    * prices (about 64% success, 3% transient, 33% permanent). */
  def reference(spark: SparkSession, n: Long, seed: Long): DataFrame =
    OrderGen.orders(spark, n, s"perfbench-$seed").withColumn("corrupt", lit(-1))

  /** The fault-heavy mix: about 30% of prices moved into the transient
    * band [5.00, 50.00] and about 10% of frames corrupted. */
  def faults(spark: SparkSession, n: Long, seed: Long): DataFrame =
    OrderGen.orders(spark, n, s"perfbench-$seed")
      .withColumn("price",
        when(draw(seed, "transient", 1000) < 300, (draw(seed, "cents", 4501) + 500) / 100.0)
          .otherwise(col("price")))
      .withColumn("corrupt", corruptKind(seed, "seq"))

  private val corruptFrame = udf { (v: Array[Byte], kind: Int, h: Long) =>
    kind match {
      case Truncated => java.util.Arrays.copyOf(v, v.length / 2)
      case MagicBitFlip =>
        val c = v.clone()
        val i = (h & 3L).toInt
        c(i) = (c(i) ^ (1 << ((h >>> 2) & 7L).toInt)).toByte
        c
      case _ => s"""{"orderId":"${h.toHexString}","price":"n/a"}""".getBytes("UTF-8")
    }
  }

  /** Writes `orders` as topic envelopes into `topicDir` with the corrupt
    * frames of the `faults` mix swapped into their `value` bytes (the
    * envelope offset is the generator's row index, so the kind is
    * recomputed). */
  private def writeCorrupted(orders: DataFrame, topicDir: String, seed: Long): Unit = {
    val kind = corruptKind(seed, "offset")
    OrderGen.toEnvelopes(orders)
      .withColumn("value",
        when(kind >= 0, corruptFrame(col("value"), kind, xxhash64(col("offset"))))
          .otherwise(col("value")))
      .write.mode("append").parquet(topicDir)
  }

  /** Runs `body` with `spark.range` split into `files` slices: it takes
    * its slice count from `spark.sql.leafNodeDefaultParallelism`, and
    * each slice becomes one part file of contiguous offsets. */
  private def inFiles[T](spark: SparkSession, files: Int)(body: => T): T = {
    val key = "spark.sql.leafNodeDefaultParallelism"
    spark.conf.set(key, files.toString)
    try body finally spark.conf.unset(key)
  }

  /** The reference producer on the reference mix: `n` rows as `files`
    * topic files in `topicDir`. Returns its seconds. */
  def produce(spark: SparkSession, n: Long, files: Int, seed: Long, topicDir: String): Double =
    inFiles(spark, files) {
      val t0 = System.nanoTime()
      OrderGen.writeTopicDir(reference(spark, n, seed), topicDir)
      (System.nanoTime() - t0) / 1e9
    }

  /** Writes `n` rows of the workload's mix as `files` topic files in
    * `dir/topic`, and the same rows' truth in `dir/truth`. Intact mixes
    * go through the reference producer ([[OrderGen.writeTopicDir]]). */
  def generate(spark: SparkSession, workload: String, n: Long, files: Int, seed: Long,
      dir: String): Unit =
    inFiles(spark, files) {
      val orders = if (workload == "faults") faults(spark, n, seed) else reference(spark, n, seed)
      if (workload == "faults") writeCorrupted(orders, s"$dir/topic", seed)
      else OrderGen.writeTopicDir(orders, s"$dir/topic")
      orders.select(col("seq").as("offset"), col("order_id"), col("product"), col("price"),
          col("corrupt"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/truth")
    }
}

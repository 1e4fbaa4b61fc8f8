package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's own input tables, written as parquet in the layouts
  * `graft.Tables.events` and `graft.Tables.embeddings` read.
  *
  * The table is a pure function of [[BaseSeed]] and the sizes below, so
  * every checkout generates the same rows and the recorded (rows,
  * checksum) references stay valid. The run's `--seed` does not reach
  * it: it permutes the batch query order and shifts the streaming tick
  * walk (see [[StreamWorkload]]).
  *
  * The shape follows the engine's `events` fixture: users × ~67 events
  * over 30 days, five event types, non-negative prices rounded to
  * cents, a `{"k": n}` props string, event time as TIMESTAMP(MICROS).
  * `embeddings` follows the engine's fixture too: unit-norm 64-d float
  * vectors around ten labelled centres, the corpus the stored IVF-SQ8
  * index of `index_near_dup` is built from.
  */
object DataGen {
  val BaseSeed = 42L
  val Users = 450
  val Events = 30000
  val Vectors = 2000
  val Dim = 64
  val Labels = 10

  /** Fingerprint of the generator: a data dir is reused only when it was
    * written by the same sizes and seed. */
  def tag: String = s"events_s${BaseSeed}_u${Users}_e${Events}_v$Vectors"

  /** Writes the table under `dir` unless a completed copy is there;
    * returns the seconds spent (0 when reused). */
  def ensure(spark: SparkSession, dir: String): Double = {
    val done = new File(dir, "_GENERATED")
    if (done.exists()) return 0.0
    val t0 = System.nanoTime()
    write(spark, dir)
    done.createNewFile()
    (System.nanoTime() - t0) / 1e9
  }

  private def write(spark: SparkSession, dir: String): Unit = {
    val rnd = new scala.util.Random(BaseSeed)
    val t0 = 1704067200000L // 2024-01-01T00:00:00Z
    val span = 30L * 24 * 3600 * 1000
    val types = Seq("signup", "click", "error", "view", "purchase")
    val events = (0 until Events).map { i =>
      val ms = t0 + (rnd.nextDouble() * span).toLong
      val micros = ms * 1000 + rnd.nextInt(1000)
      val ts = new Timestamp(micros / 1000)
      ts.setNanos(((micros % 1000000) * 1000).toInt)
      val value = math.round(math.abs(rnd.nextGaussian() * 60 + 50) * 100) / 100.0
      (ts, Row(i.toLong, ts, rnd.nextInt(Users).toLong,
        types(rnd.nextInt(types.size)), value, s"""{"k": ${rnd.nextInt(100)}}"""))
    }.sortBy(_._1.getTime).zipWithIndex.map { case ((_, r), i) =>
      Row(i.toLong, r.get(1), r.get(2), r.get(3), r.get(4), r.get(5))
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.createDataFrame(spark.sparkContext.parallelize(events, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.conf.unset("spark.sql.parquet.outputTimestampType")
    writeEmbeddings(spark, dir, rnd)
  }

  private def writeEmbeddings(spark: SparkSession, dir: String, rnd: scala.util.Random): Unit = {
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centres = Array.fill(Labels)(unit(Array.fill(Dim)(rnd.nextGaussian())))
    val rows = (0 until Vectors).map { i =>
      val label = rnd.nextInt(Labels)
      val v = unit(centres(label).map(_ + rnd.nextGaussian() * 0.15))
      Row(i.toLong, v.map(_.toFloat).toSeq, label)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}

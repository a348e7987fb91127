package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded load generator with the reference generator's rules
  * (random_data_generator.py): every sensor ticks at 1 Hz with 50% dropout;
  * temperature = round(10 + u·170); status ERROR above 160, WARNING or ERROR
  * (even odds) above 140 or with 20% chance, OK otherwise.
  *
  * Every draw is a pure function of (seed, row id, salt) through xxhash64, so
  * the same seed gives the same events on any partitioning, and a check can
  * regenerate exactly the events a run offered.
  */
object Gen {
  val Sensors = 100
  /** 2023-11-15T00:00:00Z in epoch micros: fleet time 0. Hour-aligned, so
    * every export window and dashboard window starts on its boundary. */
  val OriginMicros = 1700006400000000L

  private def u(seed: Long, id: Column, salt: Int): Column =
    (xxhash64(lit(seed), id, lit(salt)).bitwiseAND(lit((1L << 53) - 1)).cast("double") /
      lit((1L << 53).toDouble))

  def sensorName(i: Int): String = f"sensor-$i%02d"

  /** Wide fleet events for ticks [fromTick, toTick): sensor_id, temperature,
    * status, event_time (epoch micros), plus `tick` and `sensor` (int). */
  def fleet(spark: SparkSession, seed: Long, fromTick: Long, toTick: Long): DataFrame = {
    val id = col("id")
    val temperature = floor(lit(10.0) + u(seed, id, 1) * 170.0 + lit(0.5)).cast("double")
    val status = when(temperature > 160, lit("ERROR"))
      .when(temperature > 140 || u(seed, id, 2) < 0.2,
        when(u(seed, id, 3) < 0.5, lit("WARNING")).otherwise(lit("ERROR")))
      .otherwise(lit("OK"))
    val tick = (id / Sensors).cast("long")
    val sensor = pmod(id, lit(Sensors)).cast("int")
    spark.range(fromTick * Sensors, toTick * Sensors)
      .filter(u(seed, id, 4) < 0.5)
      .select(
        format_string("sensor-%02d", sensor).as("sensor_id"),
        temperature.as("temperature"),
        status.as("status"),
        (lit(OriginMicros) + tick * 1000000L).as("event_time"),
        tick.as("tick"),
        sensor.as("sensor"))
  }

  /** The reference's on-wire record: one JSON line per event. */
  def json(df: DataFrame): Column =
    to_json(struct(col("sensor_id"), col("temperature"), col("status"), col("event_time")))

  /** Events of [fromTick, toTick) collected in stream order (tick, sensor):
    * the JSON lines and each event's tick. */
  final case class Feed(lines: Array[String], ticks: Array[Long], sensors: Array[Int])

  def feed(spark: SparkSession, seed: Long, fromTick: Long, toTick: Long): Feed = {
    val df = fleet(spark, seed, fromTick, toTick)
    val rows = df.select(json(df).as("j"), col("tick"), col("sensor"))
      .orderBy("tick", "sensor").collect()
    Feed(rows.map(_.getString(0)), rows.map(_.getLong(1)), rows.map(_.getInt(2)))
  }

  /** A document corpus shaped like the repository's sf0.1 `documents`
    * table: `n` docs of 8–90 words over a small technical vocabulary, a
    * tenth of them near-copies (one or two words changed) of an earlier doc,
    * so near-duplicate pairs exist at the 0.8 Jaccard threshold. */
  def documents(seed: Long, n: Int): Seq[(Long, String)] = {
    val vocab = ("a the data spark stream batch query table row column key value " +
      "filter join group agg sort hash scan merge window order part line " +
      "fast slow big small vector customer").split(" ")
    val rnd = new scala.util.Random(seed)
    val docs = new Array[String](n)
    (0 until n).foreach { i =>
      docs(i) =
        if (i > 10 && rnd.nextDouble() < 0.1) {
          val w = docs(rnd.nextInt(i)).split(" ")
          (0 until 1 + rnd.nextInt(2)).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length)))
          w.mkString(" ")
        } else Seq.fill(8 + rnd.nextInt(83))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    docs.indices.map(i => (i.toLong, docs(i)))
  }
}

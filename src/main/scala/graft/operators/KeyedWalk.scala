package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The sorted keyed walk the per-key sequence operators run on: one hash
  * shuffle by key, one sort by (key, `order`) within each partition, and
  * one `mapPartitions` that hands each key's rows, in order, to a fresh
  * [[KeyedWalk.Walker]]. The sort spills and the iterator streams, so a
  * walker that keeps only per-key state never holds a key's rows.
  * Callers: [[Cep.matchesPattern]] (the pattern machine) and
  * [[TimeSeries.interpolateOnGrid]] (the grid walk).
  */
object KeyedWalk {

  /** One key's walk: `row` is called for each of the key's rows in sort
    * order, then `end` once. Both hand output rows to the `emit` the
    * walker was made with. */
  trait Walker {
    def row(r: Row): Unit
    def end(): Unit = ()
  }

  /** Walks `df` key by key. `key` names the key column; `walker` makes
    * the walker of one key from that key's value and the emit function.
    * Output rows must fit `out`. */
  def apply(df: DataFrame, key: String, order: Seq[Column], out: StructType)(
      walker: (Any, Row => Unit) => Walker): DataFrame = {
    val keyIndex = df.schema.fieldIndex(key)
    df.repartition(col(key))
      .sortWithinPartitions(col(key) +: order: _*)
      .mapPartitions(rows => new Walk(rows, keyIndex, walker))(Encoders.row(out))
  }

  /** `c`, or a runtime error naming `column` on a row where it is NULL. */
  def nonNull(c: Column, column: String, operator: String): Column =
    when(c.isNull, raise_error(lit(
      s"$operator input column '$column' holds a NULL; the $operator operators refuse it")))
      .otherwise(c)

  private final class Walk(rows: Iterator[Row], keyIndex: Int,
      walker: (Any, Row => Unit) => Walker) extends Iterator[Row] {
    private val out = new java.util.ArrayDeque[Row]()
    private val emit: Row => Unit = r => out.add(r)
    private var key: Any = null
    private var cur: Walker = null

    private def fill(): Unit = while (out.isEmpty && (rows.hasNext || cur != null)) {
      if (rows.hasNext) {
        val r = rows.next()
        val k = r.get(keyIndex)
        // deepEquals: a binary key arrives as a fresh array on every row
        if (cur == null || !java.util.Objects.deepEquals(k, key)) {
          if (cur != null) cur.end()
          key = k
          cur = walker(k, emit)
        }
        cur.row(r)
      } else {
        cur.end()
        cur = null
      }
    }

    def hasNext: Boolean = { fill(); !out.isEmpty }
    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException("next on an exhausted keyed walk")
      out.poll()
    }
  }
}

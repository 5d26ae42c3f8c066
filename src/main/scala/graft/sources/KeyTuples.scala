package graft.sources

import org.apache.spark.sql.{Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** The distinct, fully non-NULL key tuples of a frame, CAPPED: the set
  * stops growing at `cap + 1` tuples, so its size is exact up to `cap`
  * and past it only says "over the cap". The merge audit observes it on
  * the updates batch's own write (`Dataset.observe`), where it yields
  * both the distinct-key count and the exact key set for pruning without
  * a separate pass over the batch. Tuples compare the way Spark groups
  * them: binary by content, `-0.0` with `0.0`, every NaN with every NaN.
  * Output: one row whose `keys` field holds the tuples (rows of
  * `keySchema`).
  */
private[sources] final class KeyTuples(cap: Int, keySchema: StructType)
    extends Aggregator[Row, KeyTuples.Buf, Row] {

  override def zero: KeyTuples.Buf = new KeyTuples.Buf

  override def reduce(b: KeyTuples.Buf, key: Row): KeyTuples.Buf = {
    if (!key.anyNull) b.add(key, cap)
    b
  }

  override def merge(a: KeyTuples.Buf, b: KeyTuples.Buf): KeyTuples.Buf = {
    b.tuples.values.forEach(a.add(_, cap))
    a
  }

  override def finish(b: KeyTuples.Buf): Row = {
    val out = Seq.newBuilder[Row]
    b.tuples.values.forEach(out += _)
    Row(out.result())
  }

  override def bufferEncoder: Encoder[KeyTuples.Buf] =
    Encoders.javaSerialization(classOf[KeyTuples.Buf])

  override def outputEncoder: Encoder[Row] = Encoders.row(
    StructType(Seq(StructField("keys", ArrayType(keySchema, containsNull = false)))))
}

private[sources] object KeyTuples {

  final class Buf extends Serializable {
    val tuples = new java.util.LinkedHashMap[Seq[Any], Row]()
    def add(key: Row, cap: Int): Unit =
      if (tuples.size <= cap) tuples.putIfAbsent(key.toSeq.map(canonical), key)
  }

  private def canonical(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0d) 0.0d else d)
    case f: Float => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
    case r: Row => r.toSeq.map(canonical)
    case s: scala.collection.Seq[_] => s.map(canonical)
    case other => other
  }
}

package graft.state

import java.util.{Arrays, Comparator}

import scala.collection.immutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** A driver-resident snapshot's rows, sorted by its key column in UTF8 binary
  * order (the order Catalyst compares a default-collation `StringType` by),
  * null keys first.
  *
  * They are the `data` of the snapshot's `LocalRelation`
  * ([[MaterializedState]]), so the relation itself says its rows are sorted:
  * a copy with fresh attribute ids shares them. `graft.operators.InteractiveQueries`
  * answers a key, multi-key or range query on such a relation by binary
  * search, the reference's ordered `range(from, to)` over its byte-ordered
  * store (`store/CustomQueryStore.java:68-97`), instead of a `Filter` over
  * every row.
  *
  * Each answer holds the rows a Catalyst `Filter` with the same predicate
  * keeps, in the same order, and is itself key-sorted: a null key is in no
  * key set and no bounded range, a null key or bound matches nothing, and
  * `lower > upper` matches nothing.
  */
final class KeySortedRows private (rows: Array[InternalRow], keyOrdinal: Int, from: Int, until: Int)
    extends immutable.IndexedSeq[InternalRow] with Serializable {

  def apply(i: Int): InternalRow = {
    if (i < 0 || i >= length) throw new IndexOutOfBoundsException(s"$i of $length")
    rows(from + i)
  }

  def length: Int = until - from

  private def key(i: Int): UTF8String = rows(i).getUTF8String(keyOrdinal)

  /** The first index in [lo, until) at which `reached` holds (`until` if
    * none), for a `reached` that stays true once it holds.
    */
  private def search(lo: Int)(reached: Int => Boolean): Int = {
    var (l, h) = (lo, until)
    while (l < h) {
      val m = (l + h) >>> 1
      if (reached(m)) h = m else l = m + 1
    }
    l
  }

  private def atLeast(lo: Int, k: UTF8String): Int = search(lo)(key(_).binaryCompare(k) >= 0)
  private def above(lo: Int, k: UTF8String): Int = search(lo)(key(_).binaryCompare(k) > 0)

  private lazy val firstKey: Int = search(from)(!rows(_).isNullAt(keyOrdinal))

  private def rowsIn(lo: Int, hi: Int): KeySortedRows = new KeySortedRows(rows, keyOrdinal, lo, hi)

  /** The rows whose key is in [lower, upper]; an absent bound leaves that
    * side open, but a null key is in no range, not even one with neither
    * bound.
    */
  def between(lower: Option[String], upper: Option[String]): KeySortedRows =
    if (lower.contains(null) || upper.contains(null)) rowsIn(from, from)
    else {
      val lo = lower.fold(firstKey)(l => atLeast(firstKey, UTF8String.fromString(l)))
      // searched from `lo`, so `lower > upper` gives an empty slice
      rowsIn(lo, upper.fold(until)(u => above(lo, UTF8String.fromString(u))))
    }

  /** The rows whose key is one of `keys`; duplicate and null keys add
    * nothing (each key is searched for past the last match, so a repeat
    * finds none).
    */
  def keys(keys: Seq[String]): KeySortedRows = {
    val wanted = keys.filter(_ != null).map(UTF8String.fromString).sortWith(_.binaryCompare(_) < 0)
    val out = ArrayBuffer[InternalRow]()
    wanted.foldLeft(firstKey) { (lo, k) =>
      val start = atLeast(lo, k)
      val end = above(start, k)
      out ++= rows.view.slice(start, end)
      end
    }
    new KeySortedRows(out.toArray, keyOrdinal, 0, out.length)
  }
}

object KeySortedRows {

  /** `relation` with its rows sorted by the column named `key`, as
    * [[KeySortedRows]]; `relation` itself when that column is not a
    * UTF8_BINARY string (another collation orders and matches keys
    * differently).
    */
  def sort(relation: LocalRelation, key: String): LocalRelation = {
    val ordinal = relation.output.indexWhere(_.name == key)
    val binaryKey = ordinal >= 0 && (relation.output(ordinal).dataType match {
      case s: StringType => s.collationId == StringType.collationId
      case _ => false
    })
    if (!binaryKey) relation
    else {
      val rows = relation.data.toArray
      val nullsFirst: Comparator[InternalRow] = (a, b) =>
        (a.isNullAt(ordinal), b.isNullAt(ordinal)) match {
          case (false, false) => a.getUTF8String(ordinal).binaryCompare(b.getUTF8String(ordinal))
          case (an, bn) => java.lang.Boolean.compare(bn, an)
        }
      Arrays.sort(rows, nullsFirst)
      relation.copy(data = new KeySortedRows(rows, ordinal, 0, rows.length))
    }
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Canonical JSON of a map<string,string>, byte-parity with CPython's
  * json.dumps(obj, sort_keys=True, ensure_ascii=False,
  * separators=(",",":")) — the reference's content-hash input
  * (src/utils.py:14-19 in the reference). One eval per row.
  *
  * Python's escaping contract, implemented exactly: `"` and `\` escaped,
  * control chars use the two-char forms \b \t \n \f \r where they exist
  * and \u00XX otherwise; all other characters (incl. non-ASCII) raw.
  * Keys sort by Unicode code point — UTF8String's binary order, which is
  * code-point order for valid UTF-8.
  *
  * The previous formulation — to_json(map_from_entries(array_sort(
  * map_entries(m)))) — matched on the observed corpus but delegated
  * escaping to Jackson and paid an interpreted comparator per entry pair;
  * this expression IS the contract.
  */
abstract class SortedKeyJson extends UnaryExpression with CodegenFallback {
  import SortedKeyJson.Hex

  override def dataType: DataType = StringType

  /** ensure_ascii: non-ASCII chars → \\uXXXX (surrogate halves escaped
    * separately, matching CPython for astral chars).
    */
  protected def asciiOnly: Boolean
  /** default separators (", ", ": ") vs compact (",", ":") */
  protected def spaced: Boolean

  /** Positions of `keys` in ascending binary (= code-point) order, equal
    * keys in input order: a binary insertion sort over primitive ints. A
    * payload has a few dozen keys, so the shifts cost less than boxing
    * every index for a generic stable sort.
    */
  private def sortedIndex(keys: Array[UTF8String]): Array[Int] = {
    val idx = new Array[Int](keys.length)
    var i = 0
    while (i < keys.length) {
      var lo = 0; var hi = i // insert after every key <= keys(i)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keys(idx(mid)).compareTo(keys(i)) <= 0) lo = mid + 1 else hi = mid
      }
      System.arraycopy(idx, lo, idx, lo + 1, i - lo)
      idx(lo) = i
      i += 1
    }
    idx
  }

  private def appendEscaped(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      (c: @annotation.switch) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case _ =>
          if (c < ' ' || (asciiOnly && c > '~'))
            sb.append('\\').append('u').append(Hex((c >> 12) & 0xf)).append(Hex((c >> 8) & 0xf))
              .append(Hex((c >> 4) & 0xf)).append(Hex(c & 0xf))
          else sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  override protected def nullSafeEval(input: Any): Any = {
    val m = input.asInstanceOf[MapData]
    val n = m.numElements()
    val keys = Array.tabulate(n)(m.keyArray().getUTF8String)
    val vals = m.valueArray()
    val idx = sortedIndex(keys)
    val sb = new java.lang.StringBuilder(64)
    sb.append('{')
    var j = 0
    while (j < n) {
      val i = idx(j)
      if (j > 0) { sb.append(','); if (spaced) sb.append(' ') }
      appendEscaped(sb, keys(i).toString)
      sb.append(':')
      if (spaced) sb.append(' ')
      if (vals.isNullAt(i)) sb.append("null")
      else appendEscaped(sb, vals.getUTF8String(i).toString)
      j += 1
    }
    sb.append('}')
    UTF8String.fromString(sb.toString)
  }
}

object SortedKeyJson {
  private val Hex = "0123456789abcdef".toCharArray // CPython's \\u escape is lower-case
}

case class CanonicalJson(child: Expression) extends SortedKeyJson {
  override protected def asciiOnly: Boolean = false
  override protected def spaced: Boolean = false
  override protected def withNewChildInternal(newChild: Expression): CanonicalJson =
    copy(child = newChild)
}

/** json.dumps(r, sort_keys=True) with DEFAULTS — ensure_ascii=True and
  * separators (", ", ": ") — the reference's SHA-256 row-hash input
  * (main.py:191-192), which differs from the compact MD5 flavor for any
  * non-ASCII payload.
  */
case class PyDefaultJson(child: Expression) extends SortedKeyJson {
  override protected def asciiOnly: Boolean = true
  override protected def spaced: Boolean = true
  override protected def withNewChildInternal(newChild: Expression): PyDefaultJson =
    copy(child = newChild)
}

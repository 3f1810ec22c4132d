package graft.functions

/** ECMA-262 `Number::toString(10)` semantics for doubles.
  *
  * The reference derives toponym ids from
  * `md5(geometry.coordinates.join(','))`
  * (/root/reference/building-inspector.js:207), and JavaScript's
  * `Array.prototype.join` stringifies each double with the ECMA
  * shortest-round-trip algorithm: no trailing ".0" on integral values,
  * plain decimal notation for magnitudes in [1e-6, 1e21), exponent
  * notation outside. Java's `Double.toString` differs (always ".0",
  * switches to E-notation at 1e7/1e-3), so ids would diverge without
  * this reimplementation.
  *
  * Algorithm: take the significant digits and the decimal exponent
  * from one `Double.toString` (FloatingDecimal's digits, which read
  * back as the same double but are not always the fewest: 5e-324 prints
  * as 4.9E-324). For k = 1, 2, … round those digits half-up to k
  * digits and keep the first candidate that reads back as the same
  * double, then lay the digits out per the spec's notation rules. On
  * JDK 17 `String.format("%.{k-1}e")` rounds the same digits half-up,
  * so this is the digit search of probing `%.Pe` for P = 0..17, with
  * one conversion in place of up to 18. Pinned against node-generated
  * vectors, and against that `String.format` search over a million
  * seeded doubles, in JsNumberSpec.
  */
object JsNumber {

  def format(d: Double): String = {
    if (java.lang.Double.isNaN(d)) return "NaN"
    if (d == java.lang.Double.POSITIVE_INFINITY) return "Infinity"
    if (d == java.lang.Double.NEGATIVE_INFINITY) return "-Infinity"
    if (d == 0.0) return "0" // covers -0.0: JS String(-0) === "0"
    if (d < 0) return "-" + format(-d)

    // Double.toString's digits ds (no leading or trailing zeros) and
    // exponent n0 such that d = 0.ds * 10^n0.
    val s = java.lang.Double.toString(d)
    val ePos = s.indexOf('E')
    val mant = if (ePos < 0) s else s.substring(0, ePos)
    val dot = mant.indexOf('.')
    val all = mant.substring(0, dot) + mant.substring(dot + 1)
    var lead = 0
    while (all.charAt(lead) == '0') lead += 1
    var end = all.length
    while (all.charAt(end - 1) == '0') end -= 1
    val ds = all.substring(lead, end)
    val n0 = dot - lead + (if (ePos < 0) 0 else Integer.parseInt(s.substring(ePos + 1)))

    // The fewest digits, ds rounded half-up, that read back as d, and
    // the exponent n such that d = 0.digits * 10^n. ds itself reads
    // back as d (Double.toString's contract), so it ends the search.
    var digits: String = null
    var n = n0
    var len = 1
    while (digits == null) {
      if (len >= ds.length || len > 18) digits = ds
      else {
        var m = 0L
        var i = 0
        while (i < len) { m = m * 10 + (ds.charAt(i) - '0'); i += 1 }
        if (ds.charAt(len) >= '5') m += 1
        if (java.lang.Double.parseDouble(s"${m}E${n0 - len}") == d) {
          val r = java.lang.Long.toString(m) // len + 1 digits after a carry
          var e = r.length
          while (r.charAt(e - 1) == '0') e -= 1
          digits = r.substring(0, e)
          n = n0 + r.length - len
        }
        len += 1
      }
    }
    val k = digits.length
    if (k <= n && n <= 21) {
      digits + "0" * (n - k)
    } else if (0 < n && n <= 21) {
      digits.substring(0, n) + "." + digits.substring(n)
    } else if (-6 < n && n <= 0) {
      "0." + "0" * (-n) + digits
    } else {
      val expPart = (if (n - 1 >= 0) "+" else "-") + math.abs(n - 1)
      (if (k == 1) digits else digits.substring(0, 1) + "." + digits.substring(1)) +
        "e" + expPart
    }
  }

  /** JS `Array.prototype.join(',')` over a flat double array. */
  def join(values: Array[Double]): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < values.length) {
      if (i > 0) sb.append(',')
      sb.append(format(values(i)))
      i += 1
    }
    sb.toString
  }

  /** JS `Array.prototype.join(',')` over a raw JSON coordinates
    * subtree of ANY nesting depth. JS join stringifies each element
    * with `toString`, and Array#toString is itself join(',') — so
    * nested arrays flatten recursively with no brackets:
    * `[[1,2],[3,4]].join(',') === "1,2,3,4"`. The reference applies
    * this to every toponym geometry, Point or not
    * (building-inspector.js:207), so Polygon toponyms get ids from the
    * flattened ring coordinates.
    *
    * JS element rules mirrored: null/undefined → "", numbers via
    * [[format]], strings verbatim, booleans "true"/"false".
    */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def joinNestedJson(rawJson: String): String = {
    val node = mapper.readTree(rawJson)
    val sb = new java.lang.StringBuilder
    def walk(n: com.fasterxml.jackson.databind.JsonNode): Unit = {
      if (n.isArray) {
        var i = 0
        val it = n.elements()
        while (it.hasNext) {
          if (i > 0) sb.append(',')
          walk(it.next())
          i += 1
        }
      } else if (n.isNumber) sb.append(format(n.asDouble()))
      else if (n.isNull) () // JS String(null element) -> ""
      else if (n.isObject) sb.append("[object Object]") // JS String({})
      else sb.append(n.asText())
    }
    walk(node)
    sb.toString
  }

  /** ECMA-262 `parseInt(string)` (radix unspecified) — the reference
    * parses ids with bare `parseInt`
    * (/root/reference/building-inspector.js:102,105), which is
    * TOLERANT-PREFIX: skip ECMA whitespace, take an optional sign,
    * auto-detect a `0x`/`0X` hex prefix, then consume the longest
    * digit run and IGNORE trailing junk — `parseInt("12abc")` is 12
    * where a SQL cast is NULL/error. No digits → NaN, which this
    * typed surface maps to null (boxed return so codegen's null check
    * works).
    *
    * Divergence, documented: JS returns a double, so digit runs past
    * 2^53 lose precision and past Long range can't be represented
    * here — those return null instead (the reference's ids are tiny;
    * KernelSpec pins the behavior).
    */
  def parseIntJs(s: String): java.lang.Long = {
    val n = s.length
    var i = 0
    // ECMA StrWhiteSpaceChar: TAB LF VT FF CR SP NBSP ZWNBSP + Zs,
    // plus the LineTerminator chars LS/PS (U+2028/U+2029) — parseInt
    // trims StrWhiteSpace = WhiteSpace | LineTerminator
    def isWs(c: Char): Boolean =
      c == '\t' || c == '\n' || c == 0x0b.toChar || c == '\f' ||
        c == '\r' || c == ' ' || c == 0xa0.toChar || c == 0xfeff.toChar ||
        c == 0x2028.toChar || c == 0x2029.toChar ||
        Character.getType(c) == Character.SPACE_SEPARATOR
    while (i < n && isWs(s.charAt(i))) i += 1
    var neg = false
    if (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) {
      neg = s.charAt(i) == '-'
      i += 1
    }
    var radix = 10
    if (i + 1 < n && s.charAt(i) == '0' &&
        (s.charAt(i + 1) == 'x' || s.charAt(i + 1) == 'X')) {
      radix = 16
      i += 2
    }
    // ASCII-only digit value: JS accepts exactly [0-9a-zA-Z] per
    // radix — Character.digit would also admit Unicode digits
    // (Arabic-Indic, fullwidth) that parseInt treats as junk
    def digitOf(c: Char): Int = {
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'z') c - 'a' + 10
        else if (c >= 'A' && c <= 'Z') c - 'A' + 10
        else -1
      if (d >= 0 && d < radix) d else -1
    }
    var v = 0L
    var digits = 0
    var overflow = false
    var cont = true
    while (cont && i < n) {
      val d = digitOf(s.charAt(i))
      if (d < 0) cont = false
      else {
        if (v > (Long.MaxValue - d) / radix) overflow = true
        else v = v * radix + d
        digits += 1
        i += 1
      }
    }
    if (digits == 0 || overflow) null else java.lang.Long.valueOf(if (neg) -v else v)
  }
}

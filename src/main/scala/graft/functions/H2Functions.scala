package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

/** The ~25 reference scalar functions without a Spark twin (SURVEY §2.8,
  * §4.3; registry lealone-sql expression/function/Function.java:188-381).
  * Pure Scala UDFs registered through `spark.udf` — the same mechanism as
  * the reference's CREATE ALIAS reflection dispatch
  * (lealone-db schema/FunctionAlias.java:44). None of these sit in bench
  * hot paths; the hot-path surface stays on codegen'd built-ins.
  *
  * Semantics are re-derived from the reference's behavior (H2 lineage),
  * validated by literal golden tests in H2FunctionsSpec.
  */
object H2Functions {

  // ---- math ----

  /** ROUNDMAGIC (Function.java math group): shaves accumulated float noise —
    * tiny values snap to 0, mid-range values round to 12 significant digits
    * so 0.1+0.2-style artifacts disappear; huge values pass through. */
  def roundMagic(d: Double): Double = {
    if (d.isNaN || d.isInfinite) return d
    if (d > -1e-13 && d < 1e-13) return 0.0
    if (d > 1e12 || d < -1e12) return d
    new java.math.BigDecimal(d).round(new java.math.MathContext(12)).doubleValue()
  }

  def zero(): Int = 0

  /** TRUNCATE_VALUE(v, precision, scale-ish) (Function.java conversion
    * group): round toward zero keeping `scale` decimal digits. */
  def truncateValue(d: java.lang.Double, scale: Int): java.lang.Double = {
    if (d == null) return null
    new java.math.BigDecimal(d.doubleValue())
      .setScale(scale, java.math.RoundingMode.DOWN).doubleValue()
  }

  /** HASH(alg, data, iterations) — SHA256 re-applied `iterations` times. */
  def hashFn(alg: String, data: Array[Byte], iterations: Int): Array[Byte] = {
    require(alg != null && alg.equalsIgnoreCase("SHA256"), s"unsupported hash $alg")
    var r = data
    var i = 0
    while (i < math.max(iterations, 1)) {
      r = MessageDigest.getInstance("SHA-256").digest(r)
      i += 1
    }
    r
  }

  /** LZF-style fast compression (the reference's default COMPRESS codec,
    * lealone-common compress/CompressLZF.java — ours is format-private but
    * algorithmically the same literal-run/back-reference scheme; round-trip
    * compatible with [[expandLzf]]). */
  def compressLzf(data: Array[Byte]): Array[Byte] = {
    if (data == null) return null
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    val n = data.length
    val hdr = Array[Byte]((n >>> 24).toByte, (n >>> 16).toByte, (n >>> 8).toByte, n.toByte)
    out.write(hdr)
    val hashTab = new Array[Int](1 << 14)
    java.util.Arrays.fill(hashTab, -1)
    var i = 0
    var litStart = 0
    def flushLiterals(until: Int): Unit = {
      var s = litStart
      while (s < until) {
        val run = math.min(32, until - s)
        out.write(run - 1) // control 0..31 = literal run length-1
        out.write(data, s, run)
        s += run
      }
    }
    while (i + 3 <= n) {
      val h = (((data(i) & 0xff) << 16) | ((data(i + 1) & 0xff) << 8) |
        (data(i + 2) & 0xff)) * 2654435761L
      val slot = ((h >>> 18) & 0x3fff).toInt
      val cand = hashTab(slot)
      hashTab(slot) = i
      if (cand >= 0 && i - cand <= 8191 &&
        data(cand) == data(i) && data(cand + 1) == data(i + 1) &&
        data(cand + 2) == data(i + 2)) {
        var len = 3
        while (i + len < n && len < 264 && data(cand + len) == data(i + len)) len += 1
        flushLiterals(i)
        val off = i - cand
        // control 32..255: match; encode (len-3) in 3 bits or extended
        if (len - 3 < 7) out.write(0x20 | ((len - 3) << 2) | (off >>> 11))
        else { out.write(0x20 | (7 << 2) | (off >>> 11)); out.write(len - 3 - 7) }
        out.write((off >>> 3) & 0xff)
        out.write(off & 0x07)
        i += len
        litStart = i
      } else i += 1
    }
    flushLiterals(n)
    out.toByteArray
  }

  def expandLzf(c: Array[Byte]): Array[Byte] = {
    if (c == null) return null
    val n = ((c(0) & 0xff) << 24) | ((c(1) & 0xff) << 16) | ((c(2) & 0xff) << 8) | (c(3) & 0xff)
    val out = new Array[Byte](n)
    var i = 4
    var o = 0
    while (o < n) {
      val ctl = c(i) & 0xff
      i += 1
      if (ctl < 32) { // literal run
        val run = ctl + 1
        System.arraycopy(c, i, out, o, run)
        i += run; o += run
      } else {
        var len = ((ctl >>> 2) & 0x07) + 3
        if (len == 10) { len = (c(i) & 0xff) + 3 + 7; i += 1 }
        val off = ((ctl & 0x03) << 11) | ((c(i) & 0xff) << 3) | (c(i + 1) & 0x07)
        i += 2
        val src = o - off
        var j = 0
        while (j < len) { out(o + j) = out(src + j); j += 1 } // overlapping ok
        o += len
      }
    }
    out
  }

  /** COMPRESS/EXPAND with DEFLATE (the reference also ships LZF;
    * lealone-common compress/ — DEFLATE is the interoperable subset). */
  def compressDeflate(data: Array[Byte]): Array[Byte] = {
    if (data == null) return null
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    // 4-byte length header so EXPAND can size its buffer (mirrors the
    // reference's CompressTool length prefix)
    val n = data.length
    val hdr = Array[Byte]((n >>> 24).toByte, (n >>> 16).toByte, (n >>> 8).toByte, n.toByte)
    hdr ++ out.toByteArray
  }

  def expandDeflate(data: Array[Byte]): Array[Byte] = {
    if (data == null) return null
    val n = ((data(0) & 0xff) << 24) | ((data(1) & 0xff) << 16) |
      ((data(2) & 0xff) << 8) | (data(3) & 0xff)
    val inf = new java.util.zip.Inflater()
    inf.setInput(data, 4, data.length - 4)
    val out = new Array[Byte](n)
    var off = 0
    while (off < n && !inf.finished()) off += inf.inflate(out, off, n - off)
    inf.end()
    out
  }

  /** ENCRYPT/DECRYPT('AES', key, data) (Function.java math group): AES-128
    * ECB over zero-padded blocks — deterministic, key truncated/padded to
    * 16 bytes. (ECB matches the reference's block-cipher behavior; for real
    * security use an authenticated mode outside the engine.) */
  private def aes(mode: Int, key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val k = java.util.Arrays.copyOf(key, 16)
    val c = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    c.init(mode, new javax.crypto.spec.SecretKeySpec(k, "AES"))
    val padded =
      if (data.length % 16 == 0) data
      else java.util.Arrays.copyOf(data, (data.length / 16 + 1) * 16)
    c.doFinal(padded)
  }

  /** XTEA (the reference's second block cipher, lealone-common security/):
    * 32-round Feistel over 8-byte blocks, 128-bit key. */
  private def xteaBlocks(key: Array[Byte], data: Array[Byte], enc: Boolean): Array[Byte] = {
    val k = java.util.Arrays.copyOf(key, 16)
    val ks = Array.tabulate(4)(i => ((k(4 * i) & 0xff) << 24) | ((k(4 * i + 1) & 0xff) << 16) |
      ((k(4 * i + 2) & 0xff) << 8) | (k(4 * i + 3) & 0xff))
    val padded = if (data.length % 8 == 0) data
      else java.util.Arrays.copyOf(data, (data.length / 8 + 1) * 8)
    val out = new Array[Byte](padded.length)
    val delta = 0x9e3779b9
    var off = 0
    while (off < padded.length) {
      def rd(o: Int) = ((padded(o) & 0xff) << 24) | ((padded(o + 1) & 0xff) << 16) |
        ((padded(o + 2) & 0xff) << 8) | (padded(o + 3) & 0xff)
      var v0 = rd(off)
      var v1 = rd(off + 4)
      if (enc) {
        var sum = 0
        var i = 0
        while (i < 32) {
          v0 += (((v1 << 4) ^ (v1 >>> 5)) + v1) ^ (sum + ks(sum & 3))
          sum += delta
          v1 += (((v0 << 4) ^ (v0 >>> 5)) + v0) ^ (sum + ks((sum >>> 11) & 3))
          i += 1
        }
      } else {
        var sum = delta * 32
        var i = 0
        while (i < 32) {
          v1 -= (((v0 << 4) ^ (v0 >>> 5)) + v0) ^ (sum + ks((sum >>> 11) & 3))
          sum -= delta
          v0 -= (((v1 << 4) ^ (v1 >>> 5)) + v1) ^ (sum + ks(sum & 3))
          i += 1
        }
      }
      def wr(o: Int, v: Int): Unit = {
        out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
        out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
      }
      wr(off, v0); wr(off + 4, v1)
      off += 8
    }
    out
  }

  def encrypt(alg: String, key: Array[Byte], data: Array[Byte]): Array[Byte] =
    alg.toUpperCase match {
      case "AES" => aes(javax.crypto.Cipher.ENCRYPT_MODE, key, data)
      case "XTEA" => xteaBlocks(key, data, enc = true)
      case a => throw new IllegalArgumentException(s"unsupported cipher $a")
    }

  def decrypt(alg: String, key: Array[Byte], data: Array[Byte]): Array[Byte] =
    alg.toUpperCase match {
      case "AES" => aes(javax.crypto.Cipher.DECRYPT_MODE, key, data)
      case "XTEA" => xteaBlocks(key, data, enc = false)
      case a => throw new IllegalArgumentException(s"unsupported cipher $a")
    }

  // ---- strings ----

  /** SOUNDEX (4-char American Soundex, with the classic h/w-transparency
    * and vowel-separator rules). */
  def soundex(s: String): String = {
    if (s == null) return null
    //                a   e   h   l  o  r  u  y
    val codes = "01230120022455012623010202" // a..z → digit
    def code(c: Char): Char = codes(c - 'a')
    val letters = s.toLowerCase.filter(c => c >= 'a' && c <= 'z')
    if (letters.isEmpty) return null
    val sb = new StringBuilder
    sb += Character.toUpperCase(letters.head)
    var prev = code(letters.head)
    for (c <- letters.tail if sb.length < 4) {
      if (c == 'h' || c == 'w') {
        // transparent: same-coded consonants across h/w still merge
      } else {
        val d = code(c)
        if (d == '0') prev = '0' // vowel: separator, resets adjacency
        else {
          if (d != prev) sb += d
          prev = d
        }
      }
    }
    while (sb.length < 4) sb += '0'
    sb.toString
  }

  /** DIFFERENCE: count of matching soundex positions (0-4). */
  def difference(a: String, b: String): Integer = {
    if (a == null || b == null) return null
    val (sa, sb) = (soundex(a), soundex(b))
    if (sa == null || sb == null) return 0
    sa.zip(sb).count { case (x, y) => x == y }
  }

  /** H2 RAWTOHEX: each UTF-16 char → 4 hex digits. */
  def rawToHex(s: String): String =
    if (s == null) null
    else s.map(c => f"${c.toInt}%04x").mkString

  /** H2 HEXTORAW: every 4 hex digits → one UTF-16 char. */
  def hexToRaw(s: String): String = {
    if (s == null) return null
    require(s.length % 4 == 0, "HEXTORAW requires length % 4 == 0")
    s.grouped(4).map(h => Integer.parseInt(h, 16).toChar).mkString
  }

  /** SQL INSERT(s, start, length, replacement) — 1-based splice. */
  def insertStr(s: String, start: Int, len: Int, repl: String): String = {
    if (s == null) return null
    if (repl == null) return s
    val st = math.max(start, 1) - 1
    val s0 = math.min(st, s.length)
    val e0 = math.min(s0 + math.max(len, 0), s.length)
    s.substring(0, s0) + repl + s.substring(e0)
  }

  /** STRINGENCODE: Java-style string escaping. */
  def stringEncode(s: String): String = {
    if (s == null) return null
    val sb = new StringBuilder
    s.foreach {
      case '\t' => sb ++= "\\t"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' || c > '~' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb.toString
  }

  /** STRINGDECODE: inverse of [[stringEncode]]. */
  def stringDecode(s: String): String = {
    if (s == null) return null
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb += '\t'; i += 2
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case '"' => sb += '"'; i += 2
          case '\\' => sb += '\\'; i += 2
          case 'u' =>
            sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case o => sb += o; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  def stringToUtf8(s: String): Array[Byte] =
    if (s == null) null else s.getBytes(StandardCharsets.UTF_8)

  def utf8ToString(b: Array[Byte]): String =
    if (b == null) null else new String(b, StandardCharsets.UTF_8)

  // ---- XML constructors (Function.java string group) ----

  def xmlAttr(name: String, value: String): String =
    s""" $name="${escapeXml(value)}""""

  def xmlNode(name: String, attrs: String, content: String): String = {
    val a = Option(attrs).getOrElse("")
    if (content == null) s"<$name$a/>" else s"<$name$a>$content</$name>"
  }

  def xmlComment(s: String): String = s"<!-- ${Option(s).getOrElse("")} -->"
  def xmlCdata(s: String): String = s"<![CDATA[${Option(s).getOrElse("")}]]>"
  def xmlStartDoc(): String = "<?xml version=\"1.0\"?>"
  def xmlText(s: String): String = escapeXml(s)

  private def escapeXml(s: String): String =
    if (s == null) ""
    else s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  // ---- date/time (H2 field-name dispatch) ----

  private val unitToChrono: Map[String, java.time.temporal.ChronoUnit] = {
    import java.time.temporal.ChronoUnit._
    Map("MILLISECOND" -> MILLIS, "MS" -> MILLIS, "SECOND" -> SECONDS,
      "SS" -> SECONDS, "MINUTE" -> MINUTES, "MI" -> MINUTES, "HOUR" -> HOURS,
      "HH" -> HOURS, "DAY" -> DAYS, "DD" -> DAYS, "WEEK" -> WEEKS,
      "WK" -> WEEKS, "MONTH" -> MONTHS, "MM" -> MONTHS, "QUARTER" -> null,
      "YEAR" -> YEARS, "YY" -> YEARS)
  }

  /** H2 DATEADD('unit', n, ts) — string unit dispatch. */
  def dateAdd(unit: String, n: Long, ts: java.sql.Timestamp): java.sql.Timestamp = {
    if (ts == null || unit == null) return null
    val ldt = ts.toLocalDateTime
    val u = unit.toUpperCase
    val out = u match {
      case "QUARTER" => ldt.plusMonths(3 * n)
      case _ => ldt.plus(n, unitToChrono.getOrElse(u,
        throw new IllegalArgumentException(s"bad unit $unit")))
    }
    java.sql.Timestamp.valueOf(out)
  }

  /** H2 DATEDIFF('unit', a, b) — crossed-boundary count, b - a. */
  def dateDiff(unit: String, a: java.sql.Timestamp, b: java.sql.Timestamp): java.lang.Long = {
    if (a == null || b == null || unit == null) return null
    import java.time.temporal.ChronoUnit._
    val (x, y) = (a.toLocalDateTime, b.toLocalDateTime)
    unit.toUpperCase match {
      case "MILLISECOND" | "MS" => MILLIS.between(x, y)
      case "SECOND" | "SS" => SECONDS.between(x.withNano(0), y.withNano(0))
      case "MINUTE" | "MI" =>
        MINUTES.between(x.withSecond(0).withNano(0), y.withSecond(0).withNano(0))
      case "HOUR" | "HH" =>
        HOURS.between(x.withMinute(0).withSecond(0).withNano(0),
          y.withMinute(0).withSecond(0).withNano(0))
      case "DAY" | "DD" =>
        DAYS.between(x.toLocalDate, y.toLocalDate)
      case "WEEK" | "WK" => DAYS.between(x.toLocalDate, y.toLocalDate) / 7
      case "MONTH" | "MM" =>
        (y.getYear - x.getYear) * 12L + (y.getMonthValue - x.getMonthValue)
      case "QUARTER" =>
        ((y.getYear - x.getYear) * 12L + (y.getMonthValue - x.getMonthValue)) / 3
      case "YEAR" | "YY" => (y.getYear - x.getYear).toLong
      case u => throw new IllegalArgumentException(s"bad unit $u")
    }
  }

  def isoYear(d: java.sql.Date): Integer =
    if (d == null) null
    else d.toLocalDate.get(java.time.temporal.IsoFields.WEEK_BASED_YEAR)

  def isoWeek(d: java.sql.Date): Integer =
    if (d == null) null
    else d.toLocalDate.get(java.time.temporal.IsoFields.WEEK_OF_WEEK_BASED_YEAR)

  def isoDayOfWeek(d: java.sql.Date): Integer =
    if (d == null) null else d.toLocalDate.getDayOfWeek.getValue

  def dayName(d: java.sql.Date): String =
    if (d == null) null
    else d.toLocalDate.getDayOfWeek.getDisplayName(
      java.time.format.TextStyle.FULL, java.util.Locale.ENGLISH)

  def monthName(d: java.sql.Date): String =
    if (d == null) null
    else d.toLocalDate.getMonth.getDisplayName(
      java.time.format.TextStyle.FULL, java.util.Locale.ENGLISH)

  /** H2 DECODE(v, search1, result1[, search2, result2…][, default])
    * (Function.java:337-347): first matching search wins; null-safe
    * comparison like the reference. Column-level composition (codegen'd
    * when-chain), not a UDF. */
  def decodeH2(v: org.apache.spark.sql.Column,
      pairs: Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)],
      default: Option[org.apache.spark.sql.Column] = None): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, when}
    require(pairs.nonEmpty, "DECODE needs at least one search/result pair")
    val chain = pairs.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
      case (acc, (s, r)) =>
        val c = v <=> s // null-safe: DECODE(null, null, x) = x in H2
        Some(acc.map(_.when(c, r)).getOrElse(when(c, r)))
    }.get
    default.map(chain.otherwise).getOrElse(chain.otherwise(lit(null)))
  }

  /** FILE_READ(name[, default]) (Function.java:365): file content as text.
    * Resolves on the executing node — on a cluster the path must be on a
    * shared filesystem (same constraint as the reference's server-side
    * file access). */
  def fileRead(name: String, default: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(name)),
      StandardCharsets.UTF_8)
    catch { case _: java.io.IOException => default }

  /** FORMATDATETIME(ts, fmt[, locale[, tz]]) (Function.java FORMATDATETIME
    * — SimpleDateFormat semantics, exactly as the reference formats). */
  def formatDateTime(ts: java.sql.Timestamp, fmt: String, loc: String,
      tz: String): String = {
    if (ts == null || fmt == null) null
    else {
      val locale = if (loc == null) java.util.Locale.getDefault
        else java.util.Locale.forLanguageTag(loc)
      val sdf = new java.text.SimpleDateFormat(fmt, locale)
      if (tz != null) sdf.setTimeZone(java.util.TimeZone.getTimeZone(tz))
      sdf.format(ts)
    }
  }

  /** PARSEDATETIME(text, fmt[, locale[, tz]]) (Function.java PARSEDATETIME). */
  def parseDateTime(s: String, fmt: String, loc: String,
      tz: String): java.sql.Timestamp = {
    if (s == null || fmt == null) null
    else {
      val locale = if (loc == null) java.util.Locale.getDefault
        else java.util.Locale.forLanguageTag(loc)
      val sdf = new java.text.SimpleDateFormat(fmt, locale)
      if (tz != null) sdf.setTimeZone(java.util.TimeZone.getTimeZone(tz))
      new java.sql.Timestamp(sdf.parse(s).getTime)
    }
  }

  /** Register every function for SQL + Column use (CREATE ALIAS parity:
    * FunctionAlias.java:44 — spark.udf is the Spark-native twin). */
  def registerAll(spark: SparkSession): Unit = {
    val u = spark.udf
    u.register("roundmagic", (d: Double) => roundMagic(d))
    u.register("zero", () => zero())
    u.register("h2_hash", (a: String, d: Array[Byte], i: Int) => hashFn(a, d, i))
    u.register("compress", (d: Array[Byte]) => compressDeflate(d))
    u.register("expand", (d: Array[Byte]) => expandDeflate(d))
    u.register("compress_lzf", (d: Array[Byte]) => compressLzf(d))
    u.register("expand_lzf", (d: Array[Byte]) => expandLzf(d))
    u.register("soundex_h2", (s: String) => soundex(s))
    u.register("difference", (a: String, b: String) => difference(a, b))
    u.register("rawtohex", (s: String) => rawToHex(s))
    u.register("hextoraw", (s: String) => hexToRaw(s))
    u.register("insert_str", (s: String, st: Int, l: Int, r: String) => insertStr(s, st, l, r))
    u.register("stringencode", (s: String) => stringEncode(s))
    u.register("stringdecode", (s: String) => stringDecode(s))
    u.register("stringtoutf8", (s: String) => stringToUtf8(s))
    u.register("utf8tostring", (b: Array[Byte]) => utf8ToString(b))
    u.register("xmlattr", (n: String, v: String) => xmlAttr(n, v))
    u.register("xmlnode", (n: String, a: String, c: String) => xmlNode(n, a, c))
    u.register("xmlcomment", (s: String) => xmlComment(s))
    u.register("xmlcdata", (s: String) => xmlCdata(s))
    u.register("xmlstartdoc", () => xmlStartDoc())
    u.register("xmltext", (s: String) => xmlText(s))
    u.register("dateadd_h2", (un: String, n: Long, ts: java.sql.Timestamp) => dateAdd(un, n, ts))
    u.register("datediff_h2", (un: String, a: java.sql.Timestamp, b: java.sql.Timestamp) => dateDiff(un, a, b))
    u.register("iso_year", (d: java.sql.Date) => isoYear(d))
    u.register("iso_week", (d: java.sql.Date) => isoWeek(d))
    u.register("iso_day_of_week", (d: java.sql.Date) => isoDayOfWeek(d))
    u.register("dayname", (d: java.sql.Date) => dayName(d))
    u.register("monthname", (d: java.sql.Date) => monthName(d))
    u.register("file_read", (n: String, d: String) => fileRead(n, d))
    u.register("encrypt", (a: String, k: Array[Byte], d: Array[Byte]) => encrypt(a, k, d))
    u.register("decrypt", (a: String, k: Array[Byte], d: Array[Byte]) => decrypt(a, k, d))
    // RANDOM_UUID/SYS_GUID (Function.java math group) — nondeterministic by
    // contract, excluded from oracle queries. Flagged nondeterministic so
    // the optimizer never folds or duplicates a call, and the SQL front
    // door fixes the values a DML statement writes.
    import org.apache.spark.sql.functions.udf
    u.register("random_uuid",
      udf(() => java.util.UUID.randomUUID().toString).asNondeterministic())
    // SECURE_RAND(n) (Function.java SECURE_RAND): n cryptographic bytes
    u.register("secure_rand", udf((n: Int) => {
      val b = new Array[Byte](math.max(n, 1))
      new java.security.SecureRandom().nextBytes(b)
      b
    }).asNondeterministic())
    u.register("truncate_value", (d: java.lang.Double, s: Int) => truncateValue(d, s))
    // FORMATDATETIME/PARSEDATETIME (2-4 args): Spark UDFs are single-arity,
    // so sqlfront.Resolve renames calls by argument count
    u.register("formatdatetime_2",
      (ts: java.sql.Timestamp, f: String) => formatDateTime(ts, f, null, null))
    u.register("formatdatetime_3",
      (ts: java.sql.Timestamp, f: String, l: String) => formatDateTime(ts, f, l, null))
    u.register("formatdatetime_4",
      (ts: java.sql.Timestamp, f: String, l: String, z: String) => formatDateTime(ts, f, l, z))
    u.register("parsedatetime_2",
      (s: String, f: String) => parseDateTime(s, f, null, null))
    u.register("parsedatetime_3",
      (s: String, f: String, l: String) => parseDateTime(s, f, l, null))
    u.register("parsedatetime_4",
      (s: String, f: String, l: String, z: String) => parseDateTime(s, f, l, z))
    // System/session functions (Function.java:325-336,354-369): engine
    // constants where meaningful for a batch library; JVM stats where real.
    // capture session constants NOW — udf closures must not capture the
    // (non-serializable) SparkSession itself
    val warehousePath = spark.conf.get("spark.sql.warehouse.dir", "")
    val appId = spark.sparkContext.applicationId
    u.register("database", () => "graft")
    u.register("current_user_h2", () => sys.props.getOrElse("user.name", "graft"))
    u.register("database_path", () => warehousePath)
    u.register("session_id", () => appId)
    u.register("memory_free", () => Runtime.getRuntime.freeMemory() / 1024)
    u.register("memory_used", () =>
      (Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()) / 1024)
    u.register("lock_timeout", () => 0)
    u.register("lock_mode", () => 0)      // no locks in a batch snapshot engine
    u.register("readonly", () => false)
    u.register("autocommit", () => true)  // every write is its own snapshot
    u.register("transaction_id", () => null.asInstanceOf[String])
    u.register("graft_version", () => "0.1.0")
  }
}

package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.{SparkSpec, TempDirs}

/** Adversarial CSV/JSON round-trip fuzz over the q121 source/sink
  * surface (the KernelFuzzSpec pattern applied to text formats): quoted
  * newlines, CRLF, embedded separators and quotes, null vs
  * empty-string, BOM and zero-width characters, backslash sequences,
  * non-BMP unicode, and non-finite doubles must all survive a write →
  * read cycle EXACTLY, row for row.
  *
  * Two findings are encoded as options rather than left as defaults,
  * because the defaults genuinely cannot round-trip:
  *   - CSV conflates null and "" by default (the writer emits a bare
  *     empty field for both); the fix is quoting empty strings at write
  *     (`emptyValue` = literal `""`) so the reader can tell them apart —
  *     a `nullValue` token does NOT work for string columns (the reader
  *     applies it asymmetrically and a written null round-trips as the
  *     literal token);
  *   - CSV non-finite doubles: the writer emits "Infinity" but the
  *     reader's default positiveInf token is "Inf" — explicit
  *     positiveInf/negativeInf/nanValue make the cycle exact;
  *   - embedded newlines require `multiLine=true` at read (the default
  *     splits records on the raw byte, shredding the quoted field).
  * JSON round-trips everything except non-finite doubles natively (no
  * options needed for strings); non-finite doubles are JSON's known
  * hole (emitted unquoted, re-parsed as null) and are pinned here as a
  * DOCUMENTED divergence, not silently skipped.
  */
class FormatFuzzSpec extends SparkSpec with TempDirs {

  private val hazards: Array[String] = Array(
    "plain", "", "with,comma", "with\"quote", "\"leading quote",
    "trailing quote\"", "line\nbreak", "crlf\r\nbreak", "\rbare-cr",
    "tab\tsep", "semi;colon", " leading space", "trailing space ",
    "﻿bom-prefixed", "zero​width", "emoji 😀 tail",
    "中文字段", "back\\slash", "\\n literal", "double\"\"quote",
    "'single'", "a" * 300, "null", "NULL", "0", "-1.5e300")

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType, nullable = true),
    StructField("d", DoubleType, nullable = true)))

  private def fuzzRows(n: Int, seed: Int): Seq[(Long, String, java.lang.Double)] = {
    val rnd = new scala.util.Random(seed)
    def str(): String = rnd.nextInt(8) match {
      case 0 => null
      case 1 => hazards(rnd.nextInt(hazards.length))
      case 2 => // random splice of two hazards
        hazards(rnd.nextInt(hazards.length)) +
          hazards(rnd.nextInt(hazards.length))
      case _ => rnd.alphanumeric.take(rnd.nextInt(12)).mkString +
        (if (rnd.nextBoolean()) hazards(rnd.nextInt(hazards.length)) else "")
    }
    def dbl(): java.lang.Double = rnd.nextInt(10) match {
      case 0 => null
      case 1 => Double.NaN
      case 2 => Double.PositiveInfinity
      case 3 => Double.NegativeInfinity
      case 4 => -0.0
      case _ => rnd.nextDouble() * 2e4 - 1e4
    }
    (0L until n.toLong).map(i => (i, str(), dbl()))
  }

  private def asMap(rows: Array[org.apache.spark.sql.Row])
      : Map[Long, (Option[String], Option[Double])] =
    rows.map { r =>
      r.getLong(0) -> (
        (if (r.isNullAt(1)) None else Some(r.getString(1))),
        (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    }.toMap

  private def sameDouble(a: Option[Double], b: Option[Double]): Boolean =
    (a, b) match {
      case (None, None) => true
      case (Some(x), Some(y)) =>
        // bit-level: NaN == NaN, -0.0 != 0.0 (the q121 hash contract)
        java.lang.Double.doubleToLongBits(x) ==
          java.lang.Double.doubleToLongBits(y)
      case _ => false
    }

  import spark.implicits._

  test("CSV round-trip is exact over 2000 adversarial rows") {
    val dir = tempDir("graft_csvfuzz").toString
    val rows = fuzzRows(2000, 71)
    val df = rows.toDF("id", "s", "d")
    // null-vs-empty disambiguation, the quoting recipe: the WRITER
    // quotes empty strings (emptyValue = literal "") while nulls stay
    // bare empty fields; the READER maps bare-empty to null (default
    // nullValue) and quoted-empty to "" -- distinguishable on the wire,
    // unlike the defaults (next test). A nullValue TOKEN does not work
    // for string columns: the reader applies it asymmetrically and a
    // written null comes back as the literal token string.
    df.write.mode("overwrite")
      .option("header", "true").option("emptyValue", "\"\"")
      // whitespace fidelity: BOTH sides trim by default (the writer's
      // ignore*WhiteSpace defaults are true), silently eating leading/
      // trailing spaces of unquoted values
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(s"$dir/csv")
    val back = spark.read.schema(schema)
      .option("header", "true")
      .option("multiLine", "true")
      // reader nullValue pinned to a token that can never appear in
      // data (NUL): a bare-empty field still parses to SQL null (the
      // unquoted-missing path), while quoted "" now survives as the
      // empty string instead of matching the default nullValue = ""
      .option("nullValue", "\u0000")
      .option("nanValue", "NaN").option("positiveInf", "Infinity")
      .option("negativeInf", "-Infinity")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(s"$dir/csv")
    val got = asMap(back.collect())
    assert(got.size === rows.size)
    rows.foreach { case (id, s, d) =>
      val (gs, gd) = got(id)
      assert(gs === Option(s), s"string diverged at id=$id: " +
        s"wrote ${Option(s)} read $gs")
      assert(sameDouble(gd, Option(d).map(_.doubleValue())),
        s"double diverged at id=$id: wrote $d read $gd")
    }
  }

  test("CSV default options genuinely cannot round-trip null vs empty string") {
    // pins WHY q121-style readers must configure nullValue: with
    // defaults, "" and null both write as empty and both read as null
    val dir = tempDir("graft_csvnull").toString
    Seq((1L, ""), (2L, null.asInstanceOf[String]))
      .toDF("id", "s").write.option("header", "true").csv(s"$dir/c")
    val back = spark.read
      .schema(StructType(schema.fields.take(2)))
      .option("header", "true").csv(s"$dir/c")
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(back === Map(1L -> true, 2L -> true),
      "defaults were expected to conflate; if this fails the documented " +
        "hazard (and the nullValue option in the exact test) is stale")
  }

  test("JSON round-trip is exact for strings; non-finite doubles pinned as null") {
    val dir = tempDir("graft_jsonfuzz").toString
    val rows = fuzzRows(2000, 73)
    rows.toDF("id", "s", "d").write.mode("overwrite").json(s"$dir/json")
    val back = spark.read.schema(schema).json(s"$dir/json")
    val got = asMap(back.collect())
    assert(got.size === rows.size)
    rows.foreach { case (id, s, d) =>
      val (gs, gd) = got(id)
      assert(gs === Option(s), s"string diverged at id=$id")
      val finite = d != null && !d.isNaN && !d.isInfinite
      if (finite)
        assert(sameDouble(gd, Some(d.doubleValue())),
          s"finite double diverged at id=$id: wrote $d read $gd")
      else
        assert(gd.isEmpty || sameDouble(gd, Option(d).map(_.doubleValue())),
          s"non-finite double at id=$id must read back null or equal")
    }
  }
}

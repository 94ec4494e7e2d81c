package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The MySQL/MariaDB serving-layer coercion contract (ref
  * tool_executor.py:156-161 TIME→"HH:MM", :227-228 bool(...);
  * :199-201 isoformat) over every arrival shape a JDBC dialect can
  * produce, plus the Derby round trip the registered query uses. */
class MySqlCoercionsSpec extends SparkSpec {
  import spark.implicits._

  test("bitToBool handles boolean, numeric, binary and string arrivals; nulls stay null") {
    val num = Seq[(java.lang.Integer, java.lang.Integer)]((1, 1), (2, 0), (3, null))
      .toDF("id", "flag")
    val outNum = num.select($"id",
        MySqlCoercions.bitToBool($"flag", IntegerType).as("b"))
      .as[(Int, Option[Boolean])].collect().toMap
    assert(outNum == Map(1 -> Some(true), 2 -> Some(false), 3 -> None))

    val bin = Seq((1, Array[Byte](1)), (2, Array[Byte](0)), (3, Array[Byte](0, 4)))
      .toDF("id", "flag")
    val outBin = bin.select($"id",
        MySqlCoercions.bitToBool($"flag", BinaryType).as("b"))
      .as[(Int, Boolean)].collect().toMap
    assert(outBin == Map(1 -> true, 2 -> false, 3 -> true)) // BIT(n>1) nonzero

    val bool = Seq((1, true)).toDF("id", "flag")
    assert(bool.select(MySqlCoercions.bitToBool($"flag", BooleanType))
      .as[Boolean].head())
  }

  test("timeToHhMm drops seconds (divmod formatting) for timestamp and string arrivals") {
    val ts = Seq((1, java.sql.Timestamp.valueOf("1970-01-01 08:30:45")),
      (2, java.sql.Timestamp.valueOf("1970-01-01 23:59:59"))).toDF("id", "t")
    val out = ts.select($"id",
        MySqlCoercions.timeToHhMm($"t", TimestampType).as("s"))
      .as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "08:30", 2 -> "23:59"))

    // non-padded arrivals must re-pad, not slice fixed positions:
    // "7:05:59" → "07:05", not the malformed "7:05:"
    val str = Seq((1, "07:05:59"), (2, null.asInstanceOf[String]),
      (3, "7:05:59"), (4, "9:5:0")).toDF("id", "t")
    val outS = str.select($"id",
        MySqlCoercions.timeToHhMm($"t", StringType).as("s"))
      .as[(Int, Option[String])].collect().toMap
    assert(outS == Map(1 -> Some("07:05"), 2 -> None,
      3 -> Some("07:05"), 4 -> Some("09:05")))
  }

  test("timeToHhMm string guard: malformed → null, MySQL >24h hours reduce mod 24") {
    val str = Seq((1, "0730"), (2, "garbage"), (3, "123:45:00"),
      (4, "838:59:59"), (5, ""), (6, "12:"), (7, "12:05:00.123"))
      .toDF("id", "t")
    val out = str.select($"id",
        MySqlCoercions.timeToHhMm($"t", StringType).as("s"))
      .as[(Int, Option[String])].collect().toMap
    // no ':' shape → null (never a fabricated clock time); hours past
    // 24 drop whole days for reference parity — the reference's
    // timedelta .seconds accessor does exactly this: 123h = 5d 3h45m
    // → "03:45", 838h = 34d 22h59m → "22:59"
    assert(out == Map(1 -> None, 2 -> None, 3 -> Some("03:45"),
      4 -> Some("22:59"), 5 -> None, 6 -> None, 7 -> Some("12:05")))
  }

  test("dateToIso emits isoformat strings") {
    val d = Seq((1, java.sql.Date.valueOf("2025-03-01"))).toDF("id", "d")
    assert(d.select(MySqlCoercions.dateToIso($"d", DateType)).as[String].head()
      == "2025-03-01")

    // string arrivals: non-padded components re-padded, trailing time
    // ignored — not a fixed 10-char slice
    val s = Seq((1, "2024-7-5"), (2, "2024-07-05 10:00:00"),
      (3, null.asInstanceOf[String])).toDF("id", "d")
    val outS = s.select($"id",
        MySqlCoercions.dateToIso($"d", StringType).as("s"))
      .as[(Int, Option[String])].collect().toMap
    assert(outS == Map(1 -> Some("2024-07-05"), 2 -> Some("2024-07-05"),
      3 -> None))

    // malformed non-null strings must NOT become the plausible
    // sentinel "0000-00-00" — they map to null
    val bad = Seq((1, "garbage"), (2, "07/05/2024"), (3, ""), (4, "2024"))
      .toDF("id", "d")
    val outBad = bad.select($"id",
        MySqlCoercions.dateToIso($"d", StringType).as("s"))
      .as[(Int, Option[String])].collect().toMap
    assert(outBad == Map(1 -> None, 2 -> None, 3 -> None, 4 -> None))
  }

  test("normalize fails loudly on unknown columns and unsupported types") {
    val df = Seq((1, 1)).toDF("id", "flag")
    assertThrows[IllegalArgumentException](
      MySqlCoercions.normalize(df, bitCols = Seq("nope")))
    assertThrows[IllegalArgumentException](
      MySqlCoercions.bitToBool($"x", ArrayType(IntegerType)))
  }

  test("Derby round trip: TIME/SMALLINT/DATE arrive and coerce like the MariaDB contract") {
    val dir = tempDir("graft_derby_spec_")
    val url = JdbcSource.derbyUrl(dir)
    JdbcSource.execute(url, Seq(
      "CREATE TABLE med (id INT, t TIME, f SMALLINT, d DATE)",
      "INSERT INTO med VALUES (1, TIME('06:45:30'), 1, DATE('2024-12-31'))," +
        "(2, NULL, 0, NULL)"))
    val out = MySqlCoercions.normalize(JdbcSource.readTable(spark, url, "med"),
        bitCols = Seq("F"), timeCols = Seq("T"), dateCols = Seq("D"))
      .select(col("ID"), col("T"), col("F"), col("D"))
      .as[(Int, Option[String], Boolean, Option[String])].collect().toSet
    assert(out == Set(
      (1, Some("06:45"), true, Some("2024-12-31")),
      (2, None, false, None)))
  }
}

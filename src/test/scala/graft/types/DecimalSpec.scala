package graft.types

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.service.native.NativeBlock
import graft.service.native.NativeBlock._
import graft.service.native.NativeWire.{WireIn, WireOut}
import graft.service.native.{NativeProtocol, RowBinary}

/** Decimal32/64/128 end-to-end (VERDICT r17 next #4): schema parser →
  * MergeTree column codec both ways → native Data block encode/decode
  * → RowBinary. Negative values and Nullable wrappers included. */
class DecimalSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def bd(s: String) = new java.math.BigDecimal(s)

  test("parseType/renderType/sparkTypeOf agree on all three widths") {
    assert(parseType("Decimal32(4)") == TDecimal(9, 4))
    assert(parseType("Decimal64(2)") == TDecimal(18, 2))
    assert(parseType("Decimal128(6)") == TDecimal(38, 6))
    assert(parseType("Decimal(12, 3)") == TDecimal(12, 3))
    assert(renderType(TDecimal(12, 3)) == "Decimal(12, 3)")
    assert(sparkTypeOf(TDecimal(18, 2)) ==
      org.apache.spark.sql.types.DecimalType(18, 2))
    // round-trip through the renderer
    assert(parseType(renderType(TDecimal(38, 6))) == TDecimal(38, 6))
  }

  test("native block: all widths round-trip, negatives and nullables included") {
    val cols = Seq(
      Col("d32", TDecimal(9, 4),
        IndexedSeq(bd("12.3456"), bd("-0.0001"), bd("0.0000"))),
      Col("d64", TDecimal(18, 2),
        IndexedSeq(bd("9999999999999999.99"), bd("-0.01"), bd("42.00"))),
      Col("d128", TDecimal(38, 6),
        IndexedSeq(bd("12345678901234567890123456789012.345678"),
          bd("-98765432109876543210987654321.000001"), bd("0.000000"))),
      Col("dn", TNullable(TDecimal(9, 2)),
        IndexedSeq(bd("1.25"), null, bd("-7.50"))))
    val o = new WireOut
    writeBlock(o, cols, 3, NativeProtocol.ServerRevision)
    val d = readBlock(new WireIn(o.bytes), NativeProtocol.ServerRevision)
    assert(d.rows == 3)
    assert(d.cols.map(_.t) == Seq(TDecimal(9, 4), TDecimal(18, 2),
      TDecimal(38, 6), TNullable(TDecimal(9, 2))))
    assert(d.cols(0).values == cols(0).values)
    assert(d.cols(1).values == cols(1).values)
    assert(d.cols(2).values == cols(2).values)
    assert(d.cols(3).values == cols(3).values)
  }

  test("Decimal128 extremes: +/-(10^38-1) fit the 16-byte lane (bitLength 127)") {
    // ADVICE r18: bitLength() < 127 rejected legitimate full-range
    // Decimal(38) values; the whole CH range +/-(10^38-1) must encode
    val max38 = bd("99999999999999999999999999999999999999") // 10^38-1
    val min38 = max38.negate()
    assert(max38.unscaledValue().bitLength() == 127) // the boundary case
    val cols = Seq(Col("dx", TDecimal(38, 0),
      IndexedSeq(max38, min38, bd("0"))))
    val o = new WireOut
    writeBlock(o, cols, 3, NativeProtocol.ServerRevision)
    val d = readBlock(new WireIn(o.bytes), NativeProtocol.ServerRevision)
    assert(d.cols(0).values == cols(0).values)
    // and with a nonzero scale (unscaled magnitude is what matters)
    val scaled = Seq(Col("ds", TDecimal(38, 6),
      IndexedSeq(bd("99999999999999999999999999999999.999999"),
        bd("-99999999999999999999999999999999.999999"))))
    val o2 = new WireOut
    writeBlock(o2, scaled, 2, NativeProtocol.ServerRevision)
    assert(readBlock(new WireIn(o2.bytes), NativeProtocol.ServerRevision)
      .cols(0).values == scaled(0).values)
  }

  test("MergeTree part codec: Decimal128 extremes round-trip through CTAS") {
    import graft.service.QueryService
    val wh = java.nio.file.Files.createTempDirectory("graft_dec_x_wh").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    val svc = new QueryService(spark)
    val back = svc.executeToDf(QueryService.QueryRequest(
      query = "SELECT CAST(hi AS STRING) AS hi, CAST(lo AS STRING) AS lo FROM dec_mt_x",
      initQueries = Seq(
        """CREATE TABLE dec_mt_x ENGINE = MergeTree ORDER BY (k) AS
          |SELECT 1 AS k,
          |       CAST('99999999999999999999999999999999999999' AS DECIMAL(38, 0)) AS hi,
          |       CAST('-99999999999999999999999999999999999999' AS DECIMAL(38, 0)) AS lo""".stripMargin)))
      ._1.collect()(0)
    assert(back.getString(0) == "99999999999999999999999999999999999999")
    assert(back.getString(1) == "-99999999999999999999999999999999999999")
    svc.executeToDf(QueryService.QueryRequest("DROP TABLE dec_mt_x"))
  }

  test("RowBinary: decimal values round-trip through write/readValue") {
    Seq(
      (TDecimal(9, 4), bd("-123.4567")),
      (TDecimal(18, 0), bd("123456789012345678")),
      (TDecimal(38, 10), bd("-1234567890123456789012345678.0123456789")),
      (TNullable(TDecimal(18, 2)), null),
      (TNullable(TDecimal(18, 2)), bd("3.14"))
    ).foreach { case (t, v) =>
      val o = new WireOut
      RowBinary.writeValue(o, t, v)
      assert(RowBinary.readValue(new WireIn(o.bytes), t) == v, s"type $t")
    }
  }

  test("MergeTree CTAS with decimal columns: write, ATTACH, read back hash-equal") {
    import graft.service.QueryService
    val wh = java.nio.file.Files.createTempDirectory("graft_dec_wh").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    graft.core.Tables.registerViews(spark, "/root/testdata/sf0.001")
    val svc = new QueryService(spark)
    svc.executeToDf(QueryService.QueryRequest(
      query = "SELECT 1 AS ok",
      initQueries = Seq(
        """CREATE TABLE dec_mt ENGINE = MergeTree ORDER BY (okey) AS
          |SELECT l_orderkey AS okey,
          |       CAST(l_extendedprice AS DECIMAL(18, 2)) AS price,
          |       CAST(l_discount - 0.05 AS DECIMAL(9, 4)) AS disc,
          |       CAST(l_extendedprice AS DECIMAL(38, 6)) * -1 AS neg_wide
          |FROM lineitem WHERE l_orderkey % 7 = 0""".stripMargin)))
    // the tree reads back exactly what the parquet source computes
    val back = svc.executeToDf(QueryService.QueryRequest(
      """SELECT count() AS n, sum(price) AS sp, sum(disc) AS sd,
        |       sum(neg_wide) AS snw, min(disc) AS mind, max(price) AS maxp
        |FROM dec_mt""".stripMargin))._1.collect()(0)
    val src = graft.dialect.ChSql.sql(spark,
      """SELECT count() AS n,
        |       sum(CAST(l_extendedprice AS DECIMAL(18, 2))) AS sp,
        |       sum(CAST(l_discount - 0.05 AS DECIMAL(9, 4))) AS sd,
        |       sum(CAST(l_extendedprice AS DECIMAL(38, 6)) * -1) AS snw,
        |       min(CAST(l_discount - 0.05 AS DECIMAL(9, 4))) AS mind,
        |       max(CAST(l_extendedprice AS DECIMAL(18, 2))) AS maxp
        |FROM lineitem WHERE l_orderkey % 7 = 0""".stripMargin).collect()(0)
    assert(back.getLong(0) == src.getLong(0))
    (1 to 5).foreach { i =>
      assert(back.getDecimal(i).compareTo(src.getDecimal(i)) == 0,
        s"column $i: ${back.getDecimal(i)} vs ${src.getDecimal(i)}")
    }
    // full-row fetch (no aggregate): the decode paths surface the same
    // values row by row, negatives and the 128-bit width included
    val rows = svc.executeToDf(QueryService.QueryRequest(
      "SELECT okey, price, disc, neg_wide FROM dec_mt ORDER BY okey LIMIT 5"))
      ._1.collect().map(_.toString).toSeq
    val srcRows = graft.dialect.ChSql.sql(spark,
      """SELECT l_orderkey AS okey,
        |       CAST(l_extendedprice AS DECIMAL(18, 2)) AS price,
        |       CAST(l_discount - 0.05 AS DECIMAL(9, 4)) AS disc,
        |       CAST(l_extendedprice AS DECIMAL(38, 6)) * -1 AS neg_wide
        |FROM lineitem WHERE l_orderkey % 7 = 0
        |ORDER BY okey, price LIMIT 5""".stripMargin)
      .collect().map(_.toString).toSeq
    assert(rows.sorted == srcRows.sorted)
    svc.executeToDf(QueryService.QueryRequest("DROP TABLE dec_mt"))
  }

  test("explicit Decimal DDL spellings ATTACH and decode (schema parser path)") {
    val schema = ChSchemaParser.parse(
      "d32 Decimal32(4), d64 Decimal64(2), d128 Decimal128(6), dn Nullable(Decimal(12, 3))")
    import org.apache.spark.sql.types._
    assert(schema.fields.map(_.dataType).toSeq == Seq(
      DecimalType(9, 4), DecimalType(18, 2), DecimalType(38, 6),
      DecimalType(12, 3)))
  }
}

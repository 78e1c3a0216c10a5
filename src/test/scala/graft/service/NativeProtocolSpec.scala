package graft.service

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.service.native._
import graft.service.native.NativeBlock._
import graft.service.native.NativeWire._

/** The ClickHouse native TCP protocol subset (port 9000) — proven the
  * way the hash ports were proven (no client jar exists in this
  * offline sandbox): golden byte frames against the published protocol
  * layout, plus the in-repo loopback [[NativeClient]] replaying the
  * reference's init-then-query flow
  * (`temporal/workflow_query_executor.go:302-313`: SET/ATTACH init on
  * the pinned conn, then the query) over a real socket, with the LZ4
  * compression the reference's clickhouse-go options request
  * (`:222-236`). */
class NativeProtocolSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def hex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xFF}%02x").mkString

  // ---- golden byte frames ----

  test("varint golden vectors (ULEB128)") {
    def enc(v: Long): String = { val o = new WireOut; o.writeVarUInt(v); hex(o.bytes) }
    assert(enc(0L) == "00")
    assert(enc(1L) == "01")
    assert(enc(127L) == "7f")
    assert(enc(128L) == "8001")
    assert(enc(300L) == "ac02")
    assert(enc(54460L) == "bca903")
    // round-trip through every reader
    Seq(0L, 1L, 127L, 128L, 300L, 54460L, Long.MaxValue).foreach { v =>
      val o = new WireOut; o.writeVarUInt(v)
      assert(new WireIn(o.bytes).readVarUInt() == v)
    }
  }

  test("Data block golden frame: Int64 column, two rows, revision 54460") {
    val o = new WireOut
    writeBlock(o, Seq(Col("n", TInt64, IndexedSeq(1L, 2L))), 2,
      NativeProtocol.ServerRevision)
    // hand-derived from the published layout: BlockInfo
    // (1, overflows=0, 2, bucket=-1, 0), 1 column, 2 rows, name "n",
    // type "Int64", no custom serialization, LE values
    assert(hex(o.bytes) ==
      "0100" + "02ffffffff" + "00" + // BlockInfo
        "01" + "02" +                // columns, rows
        "016e" +                     // "n"
        "05496e743634" +             // "Int64"
        "00" +                       // custom serialization = false
        "0100000000000000" + "0200000000000000")
    // and back
    val d = readBlock(new WireIn(o.bytes), NativeProtocol.ServerRevision)
    assert(d.rows == 2 && d.cols.head.values == IndexedSeq(1L, 2L))
  }

  test("block codec round-trips the full type surface") {
    val cols = Seq(
      Col("i8", TInt8, IndexedSeq(1.toByte, (-2).toByte)),
      Col("i16", TInt16, IndexedSeq(300.toShort, (-300).toShort)),
      Col("i32", TInt32, IndexedSeq(70000, -70000)),
      Col("i64", TInt64, IndexedSeq(1L << 40, -(1L << 40))),
      Col("u8", TUInt8, IndexedSeq(200.toShort, 0.toShort)),
      Col("u16", TUInt16, IndexedSeq(60000, 0)),
      Col("u32", TUInt32, IndexedSeq(4000000000L, 0L)),
      Col("f32", TFloat32, IndexedSeq(1.5f, -2.25f)),
      Col("f64", TFloat64, IndexedSeq(math.Pi, -1e100)),
      Col("s", TString, IndexedSeq("héllo", "")),
      Col("b", TBool, IndexedSeq(true, false)),
      Col("d", TDate, IndexedSeq(
        java.time.LocalDate.of(2024, 3, 1), java.time.LocalDate.of(1970, 1, 1))),
      Col("dt", TDateTime64(6), IndexedSeq(
        java.time.Instant.parse("2024-03-01T12:34:56.789012Z"),
        java.time.Instant.EPOCH)),
      Col("ns", TNullable(TString), IndexedSeq("x", null)),
      Col("arr", TArray(TInt64), IndexedSeq(
        IndexedSeq(1L, 2L, 3L), IndexedSeq.empty[Any])),
      Col("nar", TArray(TNullable(TString)), IndexedSeq(
        IndexedSeq("a", null), IndexedSeq("b"))))
    val o = new WireOut
    writeBlock(o, cols, 2, NativeProtocol.ServerRevision)
    val d = readBlock(new WireIn(o.bytes), NativeProtocol.ServerRevision)
    assert(d.rows == 2)
    val got = d.cols.map(c => c.name -> c.values).toMap
    assert(got("i8") == IndexedSeq(1.toByte, (-2).toByte))
    assert(got("i16") == IndexedSeq(300.toShort, (-300).toShort))
    assert(got("i32") == IndexedSeq(70000, -70000))
    assert(got("i64") == IndexedSeq(1L << 40, -(1L << 40)))
    assert(got("u8") == IndexedSeq(200.toShort, 0.toShort))
    assert(got("u16") == IndexedSeq(60000, 0))
    assert(got("u32") == IndexedSeq(4000000000L, 0L))
    assert(got("f32") == IndexedSeq(1.5f, -2.25f))
    assert(got("f64") == IndexedSeq(math.Pi, -1e100))
    assert(got("s") == IndexedSeq("héllo", ""))
    assert(got("b") == IndexedSeq(true, false))
    assert(got("d") == IndexedSeq(
      java.time.LocalDate.of(2024, 3, 1), java.time.LocalDate.of(1970, 1, 1)))
    assert(got("dt") == IndexedSeq(
      java.time.Instant.parse("2024-03-01T12:34:56.789012Z"),
      java.time.Instant.EPOCH))
    assert(got("ns") == IndexedSeq("x", null))
    assert(got("arr") == IndexedSeq(IndexedSeq(1L, 2L, 3L), IndexedSeq()))
    assert(got("nar") == IndexedSeq(IndexedSeq("a", null), IndexedSeq("b")))
  }

  test("LowCardinality golden frame: dictionary layout per the published serialization") {
    val o = new WireOut
    writeBlock(o, Seq(Col("s", TLowCardinality(TString),
      IndexedSeq("a", "b", "a"))), 3, NativeProtocol.ServerRevision)
    // hand-derived: BlockInfo, 1 col, 3 rows, name "s",
    // type "LowCardinality(String)", no custom serialization, then the
    // LC stream — keys version 1 (shared dicts + additional keys),
    // index type UInt8 | HasAdditionalKeys(1<<9) | NeedUpdate(1<<10)
    // = 0x600, dict size 2, dict values "a" "b", 3 rows, UInt8 indices
    assert(hex(o.bytes) ==
      "0100" + "02ffffffff" + "00" +
        "01" + "03" +
        "0173" +
        "164c6f7743617264696e616c69747928537472696e6729" +
        "00" +
        "0100000000000000" +
        "0006000000000000" +
        "0200000000000000" +
        "0161" + "0162" +
        "0300000000000000" +
        "000100")
    val d = readBlock(new WireIn(o.bytes), NativeProtocol.ServerRevision)
    assert(d.rows == 3 && d.cols.head.values == IndexedSeq("a", "b", "a"))
  }

  test("LowCardinality codec round-trips: Nullable inner, wide dictionaries") {
    // Nullable inner: slot 0 is RESERVED for null — a real value equal
    // to the nested default ("" here) must keep its own slot and
    // round-trip as "" , never as NULL (review r14)
    val nul = Col("ns", TLowCardinality(TNullable(TString)),
      IndexedSeq("x", null, "", "x", null, ""))
    val nulInt = Col("ni", TLowCardinality(TNullable(TInt64)),
      IndexedSeq(5L, null, 0L, null))
    // >255 distinct values force UInt16 keys
    val wide = Col("w", TLowCardinality(TInt64),
      IndexedSeq.tabulate(600)(i => (i % 300).toLong))
    for (c <- Seq(nul, nulInt, wide)) {
      val o = new WireOut
      writeBlock(o, Seq(c), c.values.size, NativeProtocol.ServerRevision)
      val d = readBlock(new WireIn(o.bytes), NativeProtocol.ServerRevision)
      assert(d.cols.head.values == c.values, c.name)
    }
    // the type spelling round-trips through parse/render
    assert(renderType(parseType("LowCardinality(Nullable(String))")) ==
      "LowCardinality(Nullable(String))")
  }

  test("GLOBAL-dictionary LowCardinality blocks decode (r17)") {
    // the serialization variant clients CAN send but ours never emits:
    // a shared dictionary ahead of (optionally) per-block additional
    // keys. CH's index semantics (SerializationLowCardinality.cpp,
    // mapIndexWithAdditionalKeys): idx < |global| → global dictionary,
    // else additional_keys[idx - |global|] — i.e. [global ++ additional]
    def block(typeStr: String, rows: Int)(lcBody: WireOut => Unit): Array[Byte] = {
      val o = new WireOut
      o.writeVarUInt(1); o.writeByte(0)            // BlockInfo is_overflows
      o.writeVarUInt(2); o.writeIntLE(-1)          // BlockInfo bucket_num
      o.writeVarUInt(0)
      o.writeVarUInt(1)                            // 1 column
      o.writeVarUInt(rows.toLong)
      o.writeString("s")
      o.writeString(typeStr)
      o.writeByte(0)                               // no custom serialization
      lcBody(o)
      o.bytes
    }
    def str(o: WireOut, s: String): Unit = o.writeString(s)

    // global only: dict ["", "a", "b"], UInt8 indices [1,2,1]
    val globalOnly = block("LowCardinality(String)", 3) { o =>
      o.writeLongLE(1L)                  // keys version
      o.writeLongLE(0L | (1L << 8))      // UInt8 | NeedGlobalDictionary
      o.writeLongLE(3L)                  // global dict size
      str(o, ""); str(o, "a"); str(o, "b")
      o.writeLongLE(3L)                  // rows
      o.writeByte(1); o.writeByte(2); o.writeByte(1)
    }
    val d1 = readBlock(new WireIn(globalOnly), NativeProtocol.ServerRevision)
    assert(d1.cols.head.values == IndexedSeq("a", "b", "a"))

    // global + additional over a Nullable inner: global ["", "x"],
    // additional ["y"]; combined idx 0 → NULL, 1 → "x", 2 → "y"
    val combined = block("LowCardinality(Nullable(String))", 4) { o =>
      o.writeLongLE(1L)
      o.writeLongLE(0L | (1L << 8) | (1L << 9))
      o.writeLongLE(2L)                  // global dict size
      str(o, ""); str(o, "x")
      o.writeLongLE(1L)                  // additional keys size
      str(o, "y")
      o.writeLongLE(4L)                  // rows
      o.writeByte(1); o.writeByte(0); o.writeByte(2); o.writeByte(1)
    }
    val d2 = readBlock(new WireIn(combined), NativeProtocol.ServerRevision)
    assert(d2.cols.head.values == IndexedSeq("x", null, "y", "x"))

    // a block with NO keys at all still refuses loudly
    val none = block("LowCardinality(String)", 1) { o =>
      o.writeLongLE(1L)
      o.writeLongLE(0L)
      o.writeLongLE(1L)
      o.writeByte(0)
    }
    val e = intercept[IllegalArgumentException] {
      readBlock(new WireIn(none), NativeProtocol.ServerRevision)
    }
    assert(e.getMessage.contains("without any keys"))
  }

  test("LZ4 frame: layout, round-trip, checksum tamper detection") {
    val raw = ("the quick brown fox jumps over the lazy dog " * 10).getBytes
    val frame = lz4Frame(raw)
    // layout: 16B CityHash128, method 0x82, comp size (incl 9B header), raw size
    assert((frame(16) & 0xFF) == 0x82)
    def leInt(o: Int): Int =
      (0 until 4).map(i => (frame(o + i) & 0xFF) << (8 * i)).sum
    assert(leInt(17) == frame.length - 16) // comp size = frame minus checksum
    assert(leInt(21) == raw.length)
    val back = readFrame(new java.io.ByteArrayInputStream(frame))
    assert(back.sameElements(raw))
    // flip one payload byte: the CityHash128 checksum must catch it
    val bad = frame.clone()
    bad(30) = (bad(30) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException] {
      readFrame(new java.io.ByteArrayInputStream(bad))
    }
    assert(e.getMessage.contains("checksum"), e.getMessage)
  }

  // ---- loopback socket end-to-end ----

  private def withServer[A](f: Int => A): A = {
    val srv = new NativeServer(spark)
    val port = srv.start()
    try f(port) finally srv.stop()
  }

  test("reference init-then-query flow: SET + ATTACH init, then the query, LZ4 on") {
    val wh = Files.createTempDirectory("graft_native").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      import spark.implicits._
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
        .createOrReplaceTempView("native_src")
      graft.dialect.ChSql.sql(spark,
        "CREATE TABLE native_tree ENGINE = MergeTree ORDER BY (id) AS " +
          "SELECT id, v FROM native_src").collect()
      graft.dialect.ChSql.sql(spark, "DETACH TABLE native_tree").collect()

      withServer { port =>
        val c = new NativeClient("127.0.0.1", port,
          database = "default", user = "default", compression = true)
        try {
          assert(c.revision == NativeProtocol.ServerRevision)
          assert(c.serverTimezone == "UTC")
          c.ping()
          // the reference's init loop: Exec each init query on the
          // pinned conn (workflow_query_executor.go:302-310)
          c.exec("SET max_threads = 8")
          c.exec(
            s"""ATTACH TABLE native_back (`id` Int64, `v` Int64)
               |ENGINE = MergeTree ORDER BY (id)
               |SETTINGS disk = disk(type = local, endpoint = '$wh/native_tree')"""
              .stripMargin)
          // then the query on the same conn (:313)
          val r = c.query(
            "SELECT count() AS cnt, sum(v) AS sv FROM native_back")
          assert(r.cols == Seq("cnt", "sv"), r.cols)
          assert(r.rows == Seq(Seq(3L, 60L)), r.rows)
          // r16: Progress carries rows READ from storage (executor scan
          // counters — the 3 scanned source rows), not the 1 shipped
          // result row; CH's own read_rows semantics
          assert(r.progressRows == 3L, r.progressRows)
          // session state persisted across the three round-trips —
          // the ATTACH made on this conn still resolves
          val r2 = c.query("SELECT id FROM native_back ORDER BY id")
          assert(r2.rows.map(_.head) == Seq(1L, 2L, 3L))
        } finally c.close()
      }
    } finally {
      graft.dialect.ChSql.sql(spark, "DROP TABLE IF EXISTS native_back").collect()
      spark.conf.unset(graft.service.Settings.WarehouseDir.name)
    }
  }

  test("uncompressed conn: full type surface through a real socket") {
    withServer { port =>
      val c = new NativeClient("127.0.0.1", port, compression = false)
      try {
        val r = c.query(
          "SELECT 42 AS i, CAST(1.5 AS DOUBLE) AS f, 2.25 AS dec, " +
            "'hi' AS s, toDate('2024-03-01') AS d, " +
            "array(1, 2, 3) AS a, if(1 = 1, NULL, 'x') AS n")
        assert(r.cols == Seq("i", "f", "dec", "s", "d", "a", "n"))
        val row = r.rows.head
        assert(row(0) == 42)
        assert(row(1) == 1.5)
        // r18: Decimal rides NATIVELY (Decimal32/64/128 wire columns),
        // no longer as text
        assert(row(2) == new java.math.BigDecimal("2.25"))
        assert(row(3) == "hi")
        assert(row(4) == java.time.LocalDate.of(2024, 3, 1))
        assert(row(5) == IndexedSeq(1, 2, 3))
        assert(row(6) == null)
      } finally c.close()
    }
  }

  test("multi-block results: rows stream in BlockRows chunks") {
    withServer { port =>
      val c = new NativeClient("127.0.0.1", port)
      try {
        val r = c.query(
          "SELECT id FROM (SELECT explode(sequence(1, 20000)) AS id) t ORDER BY id")
        assert(r.rows.size == 20000)
        assert(r.rows.map(_.head) == (1 to 20000))
      } finally c.close()
    }
  }

  test("streaming results: partitions fetch incrementally, never one driver collect") {
    // spy: the windowed fetch submits ONE JOB PER PARTITION from the
    // draining thread, up to defaultParallelism of them ahead; a
    // collect-then-chunk server runs exactly one job for this
    // shuffle-free scan. Count jobs under the query's graft-native-*
    // group.
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (g.startsWith("graft-native-"))
          jobs.computeIfAbsent(g, _ => new java.util.concurrent.atomic.AtomicInteger)
            .incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      withServer { port =>
        val c = new NativeClient("127.0.0.1", port)
        try {
          // numbers() is a multi-partition range scan — no shuffle, so
          // a materializing server would run exactly one job
          val r = c.query("SELECT number FROM numbers(100000)")
          assert(r.rows.size == 100000)
          assert(r.dataBlocks >= 2, s"expected chunked blocks, got ${r.dataBlocks}")
          // listener bus is async — wait for the job-start events
          val deadline = System.nanoTime() + 10e9.toLong
          def maxJobs: Int =
            jobs.values.stream.mapToInt(_.get).max.orElse(0)
          while (maxJobs < 2 && System.nanoTime() < deadline) Thread.sleep(50)
          assert(maxJobs >= 2,
            s"expected per-partition incremental fetch (>=2 jobs in the " +
              s"query's group), got $jobs")
        } finally c.close()
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("streaming INSERT: flushes at max_insert_block_size — bounded buffer, parts per flush") {
    val wh = Files.createTempDirectory("graft_native_stream_ins").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    val srv = new NativeServer(spark)
    val port = srv.start()
    try {
      {
        val c = new NativeClient("127.0.0.1", port)
        try {
          c.exec("CREATE TABLE native_ins_stream (id Int64) " +
            "ENGINE = MergeTree ORDER BY id")
          // 5 client blocks × 1000 rows with a 1500-row flush bound:
          // the driver buffer must stay ≤ 1500 + one block, and the
          // tree must carry >1 part (one per flush), not one 5000-row
          // part from a whole-payload materialization
          c.exec("SET max_insert_block_size = 1500")
          val blocks = (0 until 5).map { b =>
            Seq(Col("id", TInt64,
              IndexedSeq.tabulate(1000)(i => (b * 1000 + i).toLong)))
          }
          c.insert("INSERT INTO native_ins_stream", blocks)
          val r = c.query(
            "SELECT count() AS n, min(id) AS lo, max(id) AS hi " +
              "FROM native_ins_stream")
          assert(r.rows == Seq(Seq(5000L, 0L, 4999L)), r.rows)
          // the per-conn session resolves its own warehouse conf — take
          // the tree's real endpoint from the catalog record
          val treeDir = graft.core.Catalog.lookup("native_ins_stream")
            .flatMap(_.endpoint).getOrElse(fail("table not in catalog"))
          val parts = new java.io.File(treeDir).listFiles()
            .filter(f => f.isDirectory && !f.getName.startsWith("."))
            .map(_.getName).sorted
          assert(parts.length >= 3,
            s"expected one part per flush (ceil(5000/1500)+tail), got ${parts.toSeq}")
          // the driver-side bound: buffer never exceeded flush size +
          // one client block (a materializing server would peak at 5000)
          assert(srv.peakInsertBufferRows <= 2500,
            s"peak insert buffer ${srv.peakInsertBufferRows} rows")
          c.exec("DROP TABLE native_ins_stream")
        } finally c.close()
      }
    } finally {
      srv.stop()
      spark.conf.unset(graft.service.Settings.WarehouseDir.name)
    }
  }

  test("external table blocks register as session temp tables") {
    withServer { port =>
      val c = new NativeClient("127.0.0.1", port)
      try {
        val r = c.queryWithExternal(
          "SELECT k, n * 2 AS d FROM ext1 ORDER BY k",
          "ext1",
          Seq(Col("k", TString, IndexedSeq("a", "b")),
            Col("n", TInt64, IndexedSeq(1L, 2L))))
        assert(r.rows == Seq(Seq("a", 2L), Seq("b", 4L)))
      } finally c.close()
    }
  }

  test("native batch INSERT: header block out, client blocks in, MergeTree append") {
    val wh = Files.createTempDirectory("graft_native_ins").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      withServer { port =>
        val c = new NativeClient("127.0.0.1", port)
        try {
          c.exec("CREATE TABLE native_ins (id Int64, s String) " +
            "ENGINE = MergeTree ORDER BY id")
          val header = c.insert("INSERT INTO native_ins",
            Seq(Seq(
              Col("id", TInt64, IndexedSeq(1L, 2L)),
              Col("s", TString, IndexedSeq("a", "b")))))
          assert(header == Seq("id" -> "Int64", "s" -> "String"), header)
          val r = c.query("SELECT id, s FROM native_ins ORDER BY id")
          assert(r.rows == Seq(Seq(1L, "a"), Seq(2L, "b")))
          c.exec("DROP TABLE native_ins")
        } finally c.close()
      }
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("native INSERT opener: backtick-quoted column names containing ')' and ',' parse correctly") {
    // r14 verdict "what's wrong" #2: the `\(([^)]*)\)` + bare-comma
    // split mis-parsed quoted names with `,` or `)` — the opener is
    // now tokenized quote-aware
    val wh = Files.createTempDirectory("graft_native_ins_q").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      withServer { port =>
        val c = new NativeClient("127.0.0.1", port)
        try {
          c.exec("CREATE TABLE native_ins_q (`id` Int64, `v(a,b)` String) " +
            "ENGINE = MergeTree ORDER BY id")
          val header = c.insert(
            "INSERT INTO native_ins_q (`id`, `v(a,b)`)",
            Seq(Seq(
              Col("id", TInt64, IndexedSeq(1L, 2L)),
              Col("v(a,b)", TString, IndexedSeq("x", "y")))))
          assert(header == Seq("id" -> "Int64", "v(a,b)" -> "String"), header)
          val r = c.query("SELECT `id`, `v(a,b)` AS v FROM native_ins_q ORDER BY id")
          assert(r.rows == Seq(Seq(1L, "x"), Seq(2L, "y")))
          // a leading comment keeps the statement on the client-data route
          c.insert("-- load\nINSERT INTO native_ins_q /* cols */ (`id`, `v(a,b)`) VALUES",
            Seq(Seq(
              Col("id", TInt64, IndexedSeq(3L)),
              Col("v(a,b)", TString, IndexedSeq("z")))))
          assert(c.query("SELECT count() AS n FROM native_ins_q").rows == Seq(Seq(3L)))
          c.exec("DROP TABLE native_ins_q")
        } finally c.close()
      }
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("INSERT openers: comments stripped, quoted names unquoted, empty list refused") {
    val tail = """(?is)^\s*(?:VALUES)?\s*$""".r
    assert(InsertOpeners.parse("# n\nINSERT INTO t /* ( */ (`a,b`, \"c\"\"d\") VALUES", tail) ==
      Some(("t", Some(Seq("a,b", "c\"d")))))
    assert(InsertOpeners.parse("INSERT INTO db.t", tail) == Some(("db.t", None)))
    assert(InsertOpeners.parse("INSERT INTO t ()", tail).isEmpty)
    assert(InsertOpeners.parse("INSERT INTO t (`a)", tail).isEmpty)
    assert(InsertOpeners.parse("INSERT INTO t (a) SELECT 1", tail).isEmpty)
  }

  test("query parameters: {name:Type} substitutes the client-bound value") {
    withServer { port =>
      val c = new NativeClient("127.0.0.1", port)
      try {
        val r = c.query(
          "SELECT number FROM numbers({n:UInt64}) " +
            "WHERE {label:String} = 'keep' ORDER BY number",
          params = Map("n" -> "4", "label" -> "keep"))
        assert(r.rows.map(_.head) == Seq(0L, 1L, 2L, 3L), r.rows)
        // an unbound placeholder refuses loudly when params are in play
        val e = intercept[NativeClient.ServerSideException] {
          c.query("SELECT {missing:UInt8} AS x",
            params = Map("other" -> "1"))
        }
        assert(e.getMessage.contains("no bound value"), e.getMessage)
        // a param-less query keeps brace groups untouched (macros,
        // literals)
        val lit = c.query("SELECT '{not:a_param}' AS s")
        assert(lit.rows == Seq(Seq("{not:a_param}")))
      } finally c.close()
    }
  }

  test("concurrent connections: per-conn session isolation, shared catalog") {
    withServer { port =>
      val a = new NativeClient("127.0.0.1", port)
      val b = new NativeClient("127.0.0.1", port, compression = false)
      try {
        // conn-scoped state: a SET on conn A is invisible on conn B
        a.exec("SET log_comment = 'conn_a'")
        val seenA = a.query(
          "SELECT 1 FROM system.one SETTINGS max_threads = 2")
        assert(seenA.rows.nonEmpty)
        // interleave queries on both conns — the protocol is
        // per-connection sequential, connections are independent
        val threads = Seq(a, b).zipWithIndex.map { case (c, i) =>
          val t = new Thread(() => {
            (0 until 5).foreach { j =>
              val r = c.query(s"SELECT ${i * 100 + j} AS v")
              assert(r.rows == Seq(Seq(i * 100 + j)), r.rows)
            }
          }, s"native-conc-$i")
          t.start(); t
        }
        threads.foreach(_.join(60000))
        assert(threads.forall(!_.isAlive))
      } finally { a.close(); b.close() }
    }
  }

  test("LowCardinality client blocks: external data + INSERT header pass-through") {
    val wh = Files.createTempDirectory("graft_native_lc").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      withServer { port =>
        val c = new NativeClient("127.0.0.1", port)
        try {
          // LC-typed external table decodes and registers
          val r = c.queryWithExternal(
            "SELECT lang, count() AS n FROM extlc GROUP BY lang ORDER BY lang",
            "extlc",
            Seq(Col("lang", TLowCardinality(TString),
              IndexedSeq("en", "de", "en"))))
          assert(r.rows == Seq(Seq("de", 1L), Seq("en", 2L)), r.rows)
          // an INSERT target declaring LC columns (github_events
          // declares many): the header carries the DECLARED spelling —
          // no Try-fallback to the plain Spark type — and LC data
          // blocks decode and land
          c.exec("CREATE TABLE native_lc (id Int64, " +
            "tag LowCardinality(String)) ENGINE = MergeTree ORDER BY id")
          val header = c.insert("INSERT INTO native_lc", Seq(Seq(
            Col("id", TInt64, IndexedSeq(1L, 2L, 3L)),
            Col("tag", TLowCardinality(TString), IndexedSeq("a", "b", "a")))))
          assert(header.contains("tag" -> "LowCardinality(String)"), header)
          val q = c.query("SELECT id, tag FROM native_lc ORDER BY id")
          assert(q.rows == Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "a")))
          c.exec("DROP TABLE native_lc")
        } finally c.close()
      }
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("LowCardinality OUT: the server emits the LC transport for declared-LC columns (r15)") {
    val wh = Files.createTempDirectory("graft_native_lc_out").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      withServer { port =>
        val c = new NativeClient("127.0.0.1", port)
        try {
          c.exec("CREATE TABLE native_lc_out " +
            "(id Int64, tag LowCardinality(String)) " +
            "ENGINE = MergeTree ORDER BY id")
          c.insert("INSERT INTO native_lc_out", Seq(Seq(
            Col("id", TInt64, IndexedSeq(1L, 2L, 3L, 4L)),
            Col("tag", TString, IndexedSeq("a", "b", "a", "a")))))
          val r = c.query("SELECT id, tag FROM native_lc_out ORDER BY id")
          assert(r.rows == Seq(Seq(1L, "a"), Seq(2L, "b"),
            Seq(3L, "a"), Seq(4L, "a")), r.rows)
          // the WIRE type is LowCardinality, not plain String — the
          // server round-trips the declared transport (r14 only
          // decoded it inbound); the Spark view marks result columns
          // nullable, hence the Nullable wrapping
          assert(r.types == Seq("Nullable(Int64)",
            "LowCardinality(Nullable(String))"), r.types)
          // an EXPRESSION over the column returns plain (metadata
          // drops through functions — CH's type algebra mostly
          // matches)
          val e = c.query(
            "SELECT concat(tag, 'x') AS t2 FROM native_lc_out LIMIT 1")
          assert(e.types.head.contains("String") &&
            !e.types.head.contains("LowCardinality"), e.types)
          c.exec("DROP TABLE native_lc_out")
        } finally c.close()
      }
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("LowCardinality(Nullable(String)) OUT with real NULLs: slot-0 null marker, '' stays distinct (r16)") {
    val wh = Files.createTempDirectory("graft_native_lcn_out").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      withServer { port =>
        val c = new NativeClient("127.0.0.1", port)
        try {
          c.exec("CREATE TABLE native_lcn_out " +
            "(id Int64, tag LowCardinality(Nullable(String))) " +
            "ENGINE = MergeTree ORDER BY id")
          // NULL and '' both present: the LC dictionary reserves slot 0
          // for null, so an empty string must survive as its own value
          // (the r15 review bug class this pins)
          c.insert("INSERT INTO native_lcn_out", Seq(Seq(
            Col("id", TInt64, IndexedSeq(1L, 2L, 3L, 4L, 5L)),
            Col("tag", TNullable(TString),
              IndexedSeq("a", null, "", "a", null)))))
          val r = c.query("SELECT id, tag FROM native_lcn_out ORDER BY id")
          assert(r.rows == Seq(Seq(1L, "a"), Seq(2L, null), Seq(3L, ""),
            Seq(4L, "a"), Seq(5L, null)), r.rows)
          assert(r.types == Seq("Nullable(Int64)",
            "LowCardinality(Nullable(String))"), r.types)
          // aggregates over the column behave: NULLs drop from count
          val n = c.query(
            "SELECT count(tag) AS c, uniqExact(tag) AS u FROM native_lcn_out")
          assert(n.rows == Seq(Seq(3L, 2L)), n.rows)
          c.exec("DROP TABLE native_lcn_out")
        } finally c.close()
      }
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("native per-query settings: a readonly session refuses the block without desyncing the conn (r15)") {
    withServer { port =>
      val c = new NativeClient("127.0.0.1", port)
      try {
        c.exec("SET readonly = 1")
        // a settings block on a readonly=1 session refuses (CH refuses
        // ALL settings changes at level 1) — as a clean Exception
        // frame, and the CONNECTION stays usable (the refusal must not
        // throw before the client's end-of-data block drains)
        val e = intercept[NativeClient.ServerSideException] {
          c.query("SELECT 1 AS x", settings = Map("readonly" -> "0"))
        }
        assert(e.getMessage.contains("READONLY"), e.getMessage)
        val ok = c.query("SELECT 2 AS y")
        assert(ok.rows == Seq(Seq(2)), ok.rows)
        // and the session is still readonly
        val w = intercept[NativeClient.ServerSideException] {
          c.query("CREATE TABLE native_ro (id Int64) ENGINE = MergeTree ORDER BY id")
        }
        assert(w.getMessage.contains("READONLY"), w.getMessage)
      } finally c.close()
    }
  }

  test("Cancel during external data aborts before execution (EndOfStream, no side effect)") {
    val wh = Files.createTempDirectory("graft_native_extcancel").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      withServer { port =>
        val c = new NativeClient("127.0.0.1", port)
        try {
          // a write statement as the probe: if the server executed the
          // query anyway (advisor r13), the table would exist
          c.sendQueryRaw(
            "CREATE TABLE native_cancel_probe ENGINE = MergeTree " +
              "ORDER BY (x) AS SELECT 1 AS x")
          c.sendBlock(Seq(Col("k", TInt64, IndexedSeq(1L))), 1, "extc")
          c.cancel()
          val r = c.awaitResult()
          assert(r.rows.isEmpty, r.rows)
          assert(graft.core.Catalog.lookup("native_cancel_probe").isEmpty,
            "cancelled query executed anyway")
          // conn stays usable
          val ok = c.query("SELECT 1 AS ok")
          assert(ok.rows == Seq(Seq(1)))
        } finally c.close()
      }
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("Cancel mid-INSERT keeps flushed batches, discards the unflushed tail") {
    val wh = Files.createTempDirectory("graft_native_inscancel").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      withServer { port =>
        val c = new NativeClient("127.0.0.1", port)
        try {
          c.exec("CREATE TABLE native_ins_cancel (id Int64) " +
            "ENGINE = MergeTree ORDER BY id")
          c.exec("SET max_insert_block_size = 1500")
          // block1 (1000) buffers; block2 → 2000 ≥ 1500 flushes (a
          // committed batch, CH keeps it); block3 (1000) buffers and
          // the Cancel DISCARDS it (advisor r13: it was committed)
          val blocks = (0 until 3).map { b =>
            Seq(Col("id", TInt64,
              IndexedSeq.tabulate(1000)(i => (b * 1000 + i).toLong)))
          }
          c.insertCancelled("INSERT INTO native_ins_cancel", blocks)
          val r = c.query("SELECT count() AS n FROM native_ins_cancel")
          assert(r.rows == Seq(Seq(2000L)), r.rows)
          c.exec("DROP TABLE native_ins_cancel")
        } finally c.close()
      }
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("errors arrive as CH Exception frames and the conn stays usable") {
    withServer { port =>
      val c = new NativeClient("127.0.0.1", port)
      try {
        val e = intercept[NativeClient.ServerSideException] {
          c.query("SELECT broken syntax here FROM")
        }
        assert(e.name == "DB::Exception")
        assert(e.code == NativeProtocol.ErrGeneric)
        // the connection survives the exception (CH's contract)
        val r = c.query("SELECT 1 AS ok")
        assert(r.rows == Seq(Seq(1)))
      } finally c.close()
    }
  }

  test("a kept-alive connection answers 200 back-to-back queries without a failure") {
    // the client sends each query the moment EndOfStream arrives — right
    // into the window where the server's query worker is still cleaning
    // up; the watch loop must leave that packet to the connection loop
    withServer { port =>
      val c = new NativeClient("127.0.0.1", port)
      try {
        (1 to 200).foreach { i =>
          val r = c.query(s"SELECT $i AS i")
          assert(r.rows == Seq(Seq(i)), s"query $i")
        }
      } finally c.close()
    }
  }
}

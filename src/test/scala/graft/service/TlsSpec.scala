package graft.service

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.service.native.{NativeClient, NativeServer}

/** The SECURE native door (CH's 9440 / `remoteSecure()` surface, r18):
  * TLS via standard JSSE over a self-signed PKCS12 pair generated with
  * the JDK's keytool. The protocol above the transport is unchanged;
  * trust is explicit (truststore), never trust-all. */
class TlsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val (keystore, password) = Tls.ensureSelfSigned(
    java.nio.file.Files.createTempDirectory("graft_tls").toString)

  private lazy val securePort: Int = {
    graft.core.Catalog.update(graft.core.Catalog.AttachedTable(
      "nation_tls", "", Nil, Some(s"$dir/nation.parquet")))
    new NativeServer(spark,
      tls = Some(Tls.serverContext(keystore, password))).start()
  }

  test("a TLS client round-trips queries through the secure door") {
    val c = new NativeClient("127.0.0.1", securePort,
      tls = Some(Tls.clientContext(keystore, password)))
    try {
      c.ping()
      val r = c.query("SELECT count() AS n, sum(n_regionkey) AS s FROM nation_tls")
      assert(r.rows == Seq(Seq(25L,
        graft.core.Tables.load(spark, dir, "nation")
          .agg(org.apache.spark.sql.functions.sum("n_regionkey"))
          .collect()(0).getLong(0))))
    } finally c.close()
  }

  test("a PLAIN client cannot speak to the secure door") {
    intercept[Exception] {
      val c = new NativeClient("127.0.0.1", securePort)
      try c.ping() finally c.close()
    }
  }

  test("an untrusting client refuses the self-signed door (no trust-all)") {
    // a context trusting a DIFFERENT store must fail the handshake
    val (otherStore, otherPw) = Tls.ensureSelfSigned(
      java.nio.file.Files.createTempDirectory("graft_tls_other").toString)
    assert(otherStore != keystore)
    intercept[Exception] {
      val c = new NativeClient("127.0.0.1", securePort,
        tls = Some(Tls.clientContext(otherStore, otherPw)))
      try c.ping() finally c.close()
    }
  }

  test("the HTTPS door serves the full HTTP surface over TLS (8443 posture)") {
    val srv = new QueryServer(spark,
      tls = Some(Tls.serverContext(keystore, password)))
    val port = srv.start()
    try {
      val sslCtx = Tls.clientContext(keystore, password)
      val client = java.net.http.HttpClient.newBuilder().sslContext(sslCtx).build()
      val r = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"https://127.0.0.1:$port/hc")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200 && r.body() == "ok")
      val q = java.net.URLEncoder.encode("SELECT 41 + 1 AS v", "UTF-8")
      val r2 = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"https://127.0.0.1:$port/?query=$q")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r2.statusCode() == 200 && r2.body().trim == "42", r2.body())
      // plain http against the TLS door fails
      intercept[Exception] {
        java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/hc")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
      }
    } finally srv.stop(2)
  }

  test("remoteSecure() reads over TLS end-to-end; the plain spelling refuses") {
    spark.conf.set(graft.service.Settings.TlsTruststore.name, keystore)
    spark.conf.set(graft.service.Settings.TlsTruststorePassword.name, password)
    try {
      val r = graft.dialect.ChSql.sql(spark,
        s"SELECT count() AS n FROM remoteSecure('127.0.0.1:$securePort', default.nation_tls)")
        .collect()(0)
      assert(r.getLong(0) == 25L)
      // the INSECURE spelling against the TLS port fails loudly
      intercept[Exception] {
        graft.dialect.ChSql.sql(spark,
          s"SELECT count() AS n FROM remote('127.0.0.1:$securePort', default.nation_tls)")
          .collect()
      }
    } finally {
      spark.conf.unset(graft.service.Settings.TlsTruststore.name)
      spark.conf.unset(graft.service.Settings.TlsTruststorePassword.name)
    }
  }

  test("INSERT INTO FUNCTION remoteSecure(…) writes over TLS from executor tasks (r19)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_tls_rw").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    spark.conf.set(graft.service.Settings.TlsTruststore.name, keystore)
    spark.conf.set(graft.service.Settings.TlsTruststorePassword.name, password)
    val svc = new QueryService(spark)
    try {
      svc.executeToDf(QueryService.QueryRequest(
        "CREATE TABLE tls_rw (nk Int64, rk Int64) ENGINE = MergeTree ORDER BY nk"))
      val status = svc.executeToDf(QueryService.QueryRequest(
        s"""INSERT INTO FUNCTION remoteSecure('127.0.0.1:$securePort', default.tls_rw)
           |SELECT n_nationkey AS nk, n_regionkey AS rk FROM nation_tls""".stripMargin))
        ._1.collect()(0)
      assert(status.getLong(2) == 25L, status.toString)
      val back = graft.dialect.ChSql.sql(spark,
        "SELECT count() AS n FROM tls_rw").collect()(0)
      assert(back.getLong(0) == 25L)
      // the INSECURE write spelling against the TLS port fails loudly
      intercept[Exception] {
        svc.executeToDf(QueryService.QueryRequest(
          s"""INSERT INTO FUNCTION remote('127.0.0.1:$securePort', default.tls_rw)
             |SELECT n_nationkey AS nk, n_regionkey AS rk FROM nation_tls""".stripMargin))
      }
      svc.executeToDf(QueryService.QueryRequest("DROP TABLE tls_rw"))
    } finally {
      spark.conf.unset(graft.service.Settings.WarehouseDir.name)
      spark.conf.unset(graft.service.Settings.TlsTruststore.name)
      spark.conf.unset(graft.service.Settings.TlsTruststorePassword.name)
    }
  }
}

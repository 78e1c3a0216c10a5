package graft

/** Service process entry — the reference's `main.go:44-70` shape: start
  * the metrics/health/query HTTP surface, then block until SIGTERM.
  * `GRAFT_HTTP_PORT` (default 8080) mirrors the reference's `HTTP_PORT`
  * env (`http_server.go:31`). Optional arg 1 = testdata dir to
  * pre-register as views (so a fresh process can serve queries
  * immediately, like the reference's ATTACH-on-init flow).
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Engine.session("graft-serve")
    args.headOption.foreach { dir =>
      graft.core.Tables.registerViews(spark, dir)
      // per-request sessions resolve tables through the CATALOG, not
      // this session's temp views — record them there too
      graft.core.Tables.recordInCatalog(spark, dir)
    }
    val port = sys.env.getOrElse("GRAFT_HTTP_PORT", "8080").toInt
    // GRAFT_AUTH_USER[/GRAFT_AUTH_PASSWORD] turns on the single-user
    // credential check on BOTH doors (CH's users.xml single-user
    // shape); unset = accept anything, the sandbox default
    val auth = sys.env.get("GRAFT_AUTH_USER")
      .map(u => (u, sys.env.getOrElse("GRAFT_AUTH_PASSWORD", "")))
    // GRAFT_JOURNAL_DIR turns on the accepted-request journal; recover
    // mode "report" (default) logs unfinished entries from a previous
    // process, "rerun" replays them before the listener binds
    val srv = new graft.service.QueryServer(spark, port,
      journalDir = sys.env.get("GRAFT_JOURNAL_DIR"),
      recover = sys.env.getOrElse("GRAFT_JOURNAL_RECOVER", "report"),
      auth = auth)
    val bound = srv.start()
    System.err.println(s"[serve] listening on 127.0.0.1:$bound (GET /hc, POST /query, GET /metrics)")
    // HTTPS door (CH's 8443 posture, r18): binds only when configured
    val httpsPort = sys.env.getOrElse("GRAFT_HTTPS_PORT", "-1").toInt
    if (httpsPort >= 0) {
      val ks = sys.env.getOrElse("GRAFT_TLS_KEYSTORE",
        throw new IllegalArgumentException(
          "GRAFT_HTTPS_PORT needs GRAFT_TLS_KEYSTORE (PKCS12)"))
      val pw = sys.env.getOrElse("GRAFT_TLS_KEYSTORE_PASSWORD", "")
      val https = new graft.service.QueryServer(spark, httpsPort,
        journalDir = sys.env.get("GRAFT_JOURNAL_DIR"),
        recover = "report", // one recovery pass (the plain door's) is enough
        auth = auth,
        tls = Some(graft.service.Tls.serverContext(ks, pw)))
      val hbound = https.start()
      System.err.println(s"[serve] HTTPS on 127.0.0.1:$hbound")
      sys.addShutdownHook(https.stop())
    }
    // the ClickHouse native TCP door — what the reference's control
    // plane dials (workflow_query_executor.go builds a clickhouse-go
    // conn on port 9000); GRAFT_NATIVE_PORT=0 picks an ephemeral port,
    // -1 disables
    val nativePort = sys.env.getOrElse("GRAFT_NATIVE_PORT", "9000").toInt
    if (nativePort >= 0) {
      val native = new graft.service.native.NativeServer(spark, nativePort,
        auth = auth)
      val nbound = native.start()
      System.err.println(s"[serve] native protocol on 127.0.0.1:$nbound")
      sys.addShutdownHook(native.stop())
    }
    // SECURE native door (CH's 9440 posture, r18): binds only when the
    // keystore is configured; same handlers over TLS
    val securePort = sys.env.getOrElse("GRAFT_NATIVE_SECURE_PORT", "-1").toInt
    if (securePort >= 0) {
      val ks = sys.env.getOrElse("GRAFT_TLS_KEYSTORE",
        throw new IllegalArgumentException(
          "GRAFT_NATIVE_SECURE_PORT needs GRAFT_TLS_KEYSTORE (PKCS12)"))
      val pw = sys.env.getOrElse("GRAFT_TLS_KEYSTORE_PASSWORD", "")
      val secure = new graft.service.native.NativeServer(spark, securePort,
        auth = auth, tls = Some(graft.service.Tls.serverContext(ks, pw)))
      val sbound = secure.start()
      System.err.println(s"[serve] native protocol (TLS) on 127.0.0.1:$sbound")
      sys.addShutdownHook(secure.stop())
    }
    // block until signalled, like the reference's signal.Notify +
    // e.Shutdown loop (`http_server.go:87-90`): the JVM shutdown hook is
    // the SIGTERM/SIGINT path, and stop() drains in-flight queries
    // before the listener dies
    val latch = new java.util.concurrent.CountDownLatch(1)
    sys.addShutdownHook { srv.stop(30000L); latch.countDown() }
    latch.await()
  }
}

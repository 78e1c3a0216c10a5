package graft.service

import java.io.FileInputStream
import java.security.KeyStore

import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}

/** TLS material for the SECURE native door (CH's port 9440 /
  * `remoteSecure()` surface, r18): standard JSSE over a PKCS12
  * keystore. Certificates are deployment configuration — a real
  * server reads its keystore from `GRAFT_TLS_KEYSTORE`, and
  * `remoteSecure()` trusts `spark.graft.tls.truststore`; tests
  * generate a self-signed pair with the JDK's own `keytool` (offline, no extra deps). A client trusts exactly
  * what its truststore holds — there is no trust-all mode. */
object Tls {

  private def load(path: String, password: String): KeyStore = {
    val ks = KeyStore.getInstance("PKCS12")
    val in = new FileInputStream(path)
    try ks.load(in, password.toCharArray) finally in.close()
    ks
  }

  /** Server context: the keystore's private key identifies the door. */
  def serverContext(keystore: String, password: String): SSLContext = {
    val ks = load(keystore, password)
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, password.toCharArray)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }

  /** Client context: trusts the certificates in `truststore` — for a
    * self-signed door that is the server's own keystore file. */
  def clientContext(truststore: String, password: String): SSLContext = {
    val ks = load(truststore, password)
    val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ks)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, tmf.getTrustManagers, null)
    ctx
  }

  /** Generate a self-signed PKCS12 keystore with the JDK's `keytool`
    * (tests and single-box deployments). Idempotent per directory;
    * returns (keystorePath, password). */
  def ensureSelfSigned(dir: String, cn: String = "localhost"): (String, String) = {
    val password = "graft-tls"
    val path = new java.io.File(dir, "graft-tls.p12")
    if (!path.exists()) {
      val keytool =
        new java.io.File(System.getProperty("java.home"), "bin/keytool")
      val cmd = Seq(keytool.getAbsolutePath, "-genkeypair",
        "-alias", "graft", "-keyalg", "RSA", "-keysize", "2048",
        "-validity", "3650", "-storetype", "PKCS12",
        "-keystore", path.getAbsolutePath,
        "-storepass", password, "-keypass", password,
        "-dname", s"CN=$cn",
        "-ext", s"SAN=dns:$cn,ip:127.0.0.1")
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      p.waitFor()
      require(p.exitValue() == 0,
        s"keytool failed (${p.exitValue()}): ${out.takeRight(300)}")
    }
    (path.getAbsolutePath, password)
  }
}

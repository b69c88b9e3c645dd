package graft

import java.nio.file.{Files, Paths}

/** Throwaway-PostgreSQL provisioning for the live integration specs:
  * local binaries only (no docker daemon in CI sandboxes), unix-socket
  * only (no TCP port — parallel suites cannot collide), trust auth.
  * Specs `assume(LivePgHarness.available)` and skip cleanly elsewhere.
  *
  * Root cannot run `initdb`/`postgres`; when the JVM runs as root every
  * server-side command is delegated to the `postgres` system user via
  * `su` (the JVM itself still connects to the unix socket directly —
  * trust auth does not care who the client is).
  */
object LivePgHarness {

  val pgBin: Option[String] =
    Seq("17", "16", "15", "14")
      .map(v => s"/usr/lib/postgresql/$v/bin")
      .find(d => Files.isExecutable(Paths.get(d, "initdb")))

  val isRoot: Boolean = System.getProperty("user.name") == "root"

  lazy val havePgUser: Boolean =
    new ProcessBuilder("id", "postgres").start().waitFor() == 0

  def available: Boolean = pgBin.isDefined && (!isRoot || havePgUser)

  def sh(cmd: String): (Int, String) = {
    val argv =
      if (isRoot) Seq("su", "postgres", "-c", cmd)
      else Seq("bash", "-c", cmd)
    val pb = new ProcessBuilder(argv: _*)
    pb.directory(new java.io.File("/tmp"))
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    (p.waitFor(), out)
  }

  def shOk(cmd: String): String = {
    val (code, out) = sh(cmd)
    assert(code == 0, s"command failed ($code): $cmd\n$out")
    out
  }

  final class Cluster(val bin: String, val base: String, val port: Int = 5432) {
    val data = s"$base/data"
    /** Socket directory; the server's "port" only names the socket file. */
    val sock: String = base

    def psql(sqlText: String): String = {
      val q = sqlText.replace("\"", "\\\"")
      shOk(s"""$bin/psql -X -v ON_ERROR_STOP=1 -h $sock -p $port -d postgres -At -c "$q"""")
    }

    /** One long-lived psql connection fed line by line: steady traffic
      * without a process spawn per statement (each line autocommits).
      */
    def psqlSession(): PsqlSession = new PsqlSession(
      s"$bin/psql -X -q -v ON_ERROR_STOP=1 -h $sock -p $port -d postgres")

    def stop(): Unit = { sh(s"$bin/pg_ctl -D $data -m immediate stop"); () }
  }

  final class PsqlSession(cmd: String) {
    private val log = Files.createTempFile("graft-psql", ".log")
    private val proc = {
      val argv = if (isRoot) Seq("su", "postgres", "-c", cmd) else Seq("bash", "-c", cmd)
      val pb = new ProcessBuilder(argv: _*)
      pb.directory(new java.io.File("/tmp"))
      pb.redirectErrorStream(true)
      pb.redirectOutput(log.toFile)
      pb.start()
    }
    private val in = new java.io.PrintWriter(proc.getOutputStream, true)

    def send(sql: String): Unit = in.println(sql)

    /** End the session (idempotent); the psql output on failure, None
      * when every statement ran.
      */
    def close(): Option[String] = outcome

    private lazy val outcome: Option[String] = {
      in.close()
      val code = proc.waitFor()
      val out = Files.readString(log)
      Files.deleteIfExists(log)
      if (code == 0) None else Some(s"psql exit $code: $out")
    }
  }

  /** initdb + start a logical-replication-ready cluster under a fresh
    * temp dir. Caller owns `stop()`.
    */
  def provision(): Cluster = {
    val bin = pgBin.getOrElse(sys.error("no PostgreSQL installation"))
    val base = Files.createTempDirectory("graft-livepg").toString
    if (isRoot) {
      new ProcessBuilder("chown", "-R", "postgres:postgres", base).start().waitFor()
    }
    val c = new Cluster(bin, base)
    shOk(s"$bin/initdb -D ${c.data} -A trust")
    shOk(s"$bin/pg_ctl -D ${c.data} -l $base/pg.log -w " +
      s"-o '-k ${c.sock} -c listen_addresses= -c wal_level=logical " +
      "-c max_wal_senders=4 -c max_replication_slots=4' start")
    c
  }

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** TLS provisioning needs openssl for the self-signed cert. */
  lazy val haveOpenssl: Boolean =
    try new ProcessBuilder("openssl", "version").start().waitFor() == 0
    catch { case _: Exception => false }

  /** Like [[provision]], but ALSO serving TLS on 127.0.0.1:`port` with a
    * freshly-generated self-signed certificate — the `sslMode = require`
    * deployment shape. The cert carries DNS:localhost + IP:127.0.0.1
    * SANs so `sslMode = verify` hostname verification is testable, and a
    * `scramtls` role (password `tls-secret`) is gated by an
    * ssl-only SCRAM hba rule so SCRAM-SHA-256-PLUS channel binding runs
    * against a real verifier.
    */
  def provisionTls(port: Int): Cluster = {
    val bin = pgBin.getOrElse(sys.error("no PostgreSQL installation"))
    val base = Files.createTempDirectory("graft-livepg-tls").toString
    val c = new Cluster(bin, base, port)
    // cert before chown so the key ends up postgres-owned with 0600
    val ssl = new ProcessBuilder("openssl", "req", "-x509", "-newkey", "rsa:2048",
      "-nodes", "-keyout", s"$base/server.key", "-out", s"$base/server.crt",
      "-days", "2", "-subj", "/CN=localhost",
      "-addext", "subjectAltName=DNS:localhost,IP:127.0.0.1")
    ssl.redirectErrorStream(true)
    val p = ssl.start()
    assert(p.waitFor() == 0, "openssl cert generation failed")
    Files.setPosixFilePermissions(Paths.get(s"$base/server.key"),
      java.util.EnumSet.of(
        java.nio.file.attribute.PosixFilePermission.OWNER_READ,
        java.nio.file.attribute.PosixFilePermission.OWNER_WRITE))
    if (isRoot) {
      new ProcessBuilder("chown", "-R", "postgres:postgres", base).start().waitFor()
    }
    shOk(s"$bin/initdb -D ${c.data} -A trust")
    // first-match-wins: the scramtls rules must PRECEDE initdb's blanket
    // 127.0.0.1 trust rule; hostssl restricts SCRAM to TLS sessions and
    // hostnossl rejects any plaintext attempt for that role outright
    shOk("sed -i '1i hostssl all scramtls 127.0.0.1/32 scram-sha-256\\n" +
      "hostnossl all scramtls 127.0.0.1/32 reject' " +
      s"${c.data}/pg_hba.conf")
    shOk(s"$bin/pg_ctl -D ${c.data} -l $base/pg.log -w " +
      s"-o '-k ${c.sock} -p $port -c listen_addresses=127.0.0.1 " +
      s"-c ssl=on -c ssl_cert_file=$base/server.crt -c ssl_key_file=$base/server.key " +
      "-c wal_level=logical -c max_wal_senders=4 -c max_replication_slots=4' start")
    c.psql("CREATE ROLE scramtls LOGIN REPLICATION PASSWORD 'tls-secret'")
    c
  }
}

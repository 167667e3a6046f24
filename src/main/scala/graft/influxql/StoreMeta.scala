package graft.influxql

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.sinks.{PointStore, StoreLayout}
import InfluxQLAst._

/** File-backed admin metadata for a point store — the database /
  * retention-policy / continuous-query catalog behind InfluxDB 1.x's
  * lifecycle statements (CREATE/DROP DATABASE, CREATE/ALTER/DROP
  * RETENTION POLICY, CREATE/SHOW/DROP CONTINUOUS QUERY).
  *
  * Layout (all under `<storeDir>/_meta/` — a leading underscore keeps it
  * invisible to Spark's partition discovery, like `_SUCCESS` markers):
  *
  * {{{
  *   _meta/databases/<enc(name)>          (empty marker)
  *   _meta/cq/<enc(db)>/<enc(name)>       (content: canonical CQ text)
  *   _meta/rp/<enc(db)>/<enc(name)>       (content: "durSec replicaN default")
  * }}}
  *
  * Every file is replaced whole through [[StoreLayout.writeFile]], so a
  * crash never leaves one empty; listings skip its hidden temporary files.
  *
  * Scale note: this is CONTROL-PLANE state — dozens of entries, mutated
  * by rare admin statements already serialized under the HTTP store
  * lock — so plain driver-side files are the right tool; at cluster
  * scale the same layout lands on the shared filesystem next to the
  * data. The data plane (points) never touches it.
  *
  * The reference's client expects exactly this surface at startup:
  * `create_database(plc_ip)` (Linux/InfluxConnector2.py:107-109) issues
  * `CREATE DATABASE "<ip>"` via POST /query and must succeed — and be
  * idempotent across daemon restarts — before the first /write.
  */
object StoreMeta {

  final case class Rp(name: String, db: String, durationSec: Long,
      replication: Int, isDefault: Boolean)
  final case class Cq(name: String, db: String, text: String)

  // filenames must survive arbitrary idents (PLC IPs with dots are fine,
  // but a quoted ident can hold '/'); URL-encoding is bijective and keeps
  // ASCII-sortable listings for the common case. A leading '.' is escaped
  // too: dot-names are StoreLayout.writeFile's temporary files
  private def enc(s: String): String = {
    val e = java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
    if (e.startsWith(".")) "%2E" + e.substring(1) else e
  }
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  private def metaDir(store: String, parts: String*): File =
    new File((Seq(store, "_meta") ++ parts).mkString(File.separator))

  private def list(d: File): Seq[String] =
    Option(d.listFiles()).getOrElse(Array.empty[File])
      .filterNot(_.getName.startsWith("."))
      .map(f => dec(f.getName)).toSeq.sorted

  // ---- databases ----------------------------------------------------------

  /** Idempotent, like InfluxDB's CREATE DATABASE. A WITH clause creates
    * the initial retention policy too (overwriting a same-named one —
    * re-running the statement is a no-op, not an error).
    */
  def createDatabase(store: String, st: CreateDatabase): Unit = {
    val marker = metaDir(store, "databases", enc(st.name))
    marker.getParentFile.mkdirs()
    marker.createNewFile(): Unit
    st.withRp.foreach(rp => writeRp(store,
      Rp(rp.name, rp.db, rp.durationSec, rp.replication, rp.isDefault)))
  }

  /** Removes the marker, the db's RPs and CQs, and — db-per-PLC layout
    * (SURVEY §2.1 S4: database ↔ measurement partition) — the matching
    * `measurement=<name>` data directory. Idempotent like InfluxDB's.
    */
  def dropDatabase(store: String, name: String): Unit = {
    StoreLayout.rmTree(metaDir(store, "databases", enc(name)))
    StoreLayout.rmTree(metaDir(store, "rp", enc(name)))
    StoreLayout.rmTree(metaDir(store, "cq", enc(name)))
    StoreLayout.rmTree(metaDir(store, "cqstate", enc(name)))
    StoreLayout.drop(StoreLayout.measurementDir(store, name)): Unit
  }

  def listDatabases(store: String): Seq[String] =
    list(metaDir(store, "databases"))

  // ---- retention policies -------------------------------------------------

  private def rpFile(store: String, db: String, name: String): File =
    metaDir(store, "rp", enc(db), enc(name))

  private def writeRp(store: String, rp: Rp): Unit = {
    StoreLayout.writeFile(rpFile(store, rp.db, rp.name),
      s"${rp.durationSec} ${rp.replication} ${rp.isDefault}")
    // one default per db (InfluxDB's invariant): setting DEFAULT clears it
    // on the db's other policies
    if (rp.isDefault)
      listRps(store, Some(rp.db)).filter(o => o.isDefault && o.name != rp.name)
        .foreach(o => writeRp(store, o.copy(isDefault = false)))
  }

  private def readRp(store: String, db: String, name: String): Option[Rp] = {
    val f = rpFile(store, db, name)
    if (!f.isFile) None
    else Files.readString(Paths.get(f.getPath)).split(' ') match {
      case Array(d, r, dflt) => Some(Rp(name, db, d.toLong, r.toInt, dflt.toBoolean))
      case _ => None
    }
  }

  def createRp(store: String, st: CreateRetention): Unit = {
    if (readRp(store, st.db, st.name).isDefined)
      throw InfluxQLParseException("retention policy already exists")
    writeRp(store, Rp(st.name, st.db, st.durationSec, st.replication, st.isDefault))
  }

  /** Updates only the clauses present. ALTERing the implicit `autogen`
    * (present on every db without an explicit policy) materializes it
    * first — InfluxDB lets you retarget the default policy's duration.
    */
  def alterRp(store: String, st: AlterRetention): Unit = {
    val cur = readRp(store, st.db, st.name).getOrElse {
      if (st.name == "autogen") Rp("autogen", st.db, 0L, 1, isDefault = true)
      else throw InfluxQLParseException("retention policy not found")
    }
    writeRp(store, cur.copy(
      durationSec = st.durationSec.getOrElse(cur.durationSec),
      replication = st.replication.getOrElse(cur.replication),
      isDefault = st.isDefault || cur.isDefault))
  }

  def dropRp(store: String, name: String, db: String): Unit = {
    val f = rpFile(store, db, name)
    if (!f.isFile) {
      if (name == "autogen")
        throw InfluxQLParseException(
          "retention policy autogen is the implicit default — ALTER it instead of dropping")
      throw InfluxQLParseException("retention policy not found")
    }
    f.delete(): Unit
  }

  /** All explicit policies, every db or one db's. The implicit autogen
    * default is NOT materialized here — listings prepend it when the db
    * has no explicit default (see InfluxQLPlanner's SHOW RETENTION
    * POLICIES).
    */
  def listRps(store: String, db: Option[String] = None): Seq[Rp] = {
    val dbs = db.map(Seq(_)).getOrElse(list(metaDir(store, "rp")))
    dbs.flatMap(d => list(metaDir(store, "rp", enc(d))).flatMap(readRp(store, d, _)))
  }

  /** The retention-enforcement service (r10): for every database whose
    * DEFAULT policy declares a finite duration, drop `date=` partitions
    * older than it — what InfluxDB's retention service does to expired
    * shard groups on its check interval, here run from the daemon tick
    * under the store write lock (the CQ/compaction cadence). The store
    * keeps one data tree per database (SURVEY §2.1 S4), so only the
    * default policy governs expiry; duration 0 (infinite, the implicit
    * autogen) and sub-day durations never expire anything. `today` is
    * injectable for determinism. Returns the dropped partition paths.
    */
  def enforceRetention(store: String, today: java.time.LocalDate): Seq[String] =
    listDatabases(store).flatMap { db =>
      listRps(store, Some(db))
        .find(rp => rp.isDefault && rp.durationSec >= 86400L)
        .toSeq.flatMap { rp =>
          PointStore.expireRetention(
            store, PointStore.retentionDays(rp.durationSec), today, Some(db))
        }
    }

  // ---- continuous queries -------------------------------------------------

  private def cqFile(store: String, db: String, name: String): File =
    metaDir(store, "cq", enc(db), enc(name))

  /** Registers the CQ (canonical rendered text, so SHOW round-trips and a
    * scheduler can re-parse). InfluxDB 1.x errors on a duplicate name —
    * and rejects shapes the scheduler cannot run (no INTO target, no
    * GROUP BY time bucket) at CREATE time, so a broken registration can
    * never reach [[CqRunner]]'s tick loop.
    */
  def createCq(store: String, st: CreateCq): Unit = {
    if (st.select.into.isEmpty)
      throw InfluxQLParseException(
        s"continuous query ${st.name} requires an INTO target measurement")
    if (st.select.groupTimeNs.isEmpty)
      throw InfluxQLParseException(
        s"continuous query ${st.name} requires GROUP BY time(...)")
    val f = cqFile(store, st.db, st.name)
    if (f.isFile) throw InfluxQLParseException("continuous query already exists")
    StoreLayout.writeFile(f, InfluxQLRender.render(st))
  }

  def dropCq(store: String, name: String, db: String): Unit = {
    val f = cqFile(store, db, name)
    if (!f.isFile) throw InfluxQLParseException("continuous query not found")
    f.delete(): Unit
    metaDir(store, "cqstate", enc(db), enc(name)).delete(): Unit
  }

  /** Scheduler high-water mark: the end (exclusive, epoch ns) of the last
    * bucket range a CQ run finalized — [[graft.influxql.CqRunner]] skips a
    * CQ until the clock opens a newer finalized bucket. Missing = never
    * ran.
    */
  def cqLastHi(store: String, db: String, name: String): Option[Long] = {
    val f = metaDir(store, "cqstate", enc(db), enc(name))
    if (f.isFile) Files.readString(Paths.get(f.getPath)).trim.toLongOption else None
  }

  def setCqLastHi(store: String, db: String, name: String, hiNs: Long): Unit = {
    StoreLayout.writeFile(metaDir(store, "cqstate", enc(db), enc(name)), hiNs.toString)
  }

  def listCqs(store: String, db: Option[String] = None): Seq[Cq] = {
    val dbs = db.map(Seq(_)).getOrElse(list(metaDir(store, "cq")))
    dbs.flatMap(d => list(metaDir(store, "cq", enc(d))).map { n =>
      Cq(n, d, Files.readString(Paths.get(cqFile(store, d, n).getPath)))
    })
  }

  /** Registered CQs re-parsed to their ASTs — what a CQ scheduler hands
    * to [[InfluxQLPlanner.continuous]] to run each standing rollup as a
    * watermarked streaming aggregate.
    */
  def scheduledCqs(store: String, db: Option[String] = None): Seq[CreateCq] =
    listCqs(store, db).map(c => InfluxQLParser.parse(c.text).asInstanceOf[CreateCq])

  // ---- subscriptions ------------------------------------------------------

  /** Write fan-out registrations (`_meta/subs/<db>/<rp>/<name>`, first
    * line the ALL|ANY mode, then one destination URL per line) — what
    * [[InfluxQLHttp]]'s `/write` consults to forward accepted bodies.
    */
  final case class Sub(name: String, db: String, rp: String,
      mode: String, destinations: Seq[String])

  private def subFile(store: String, db: String, rp: String, name: String): File =
    metaDir(store, "subs", enc(db), enc(rp), enc(name))

  def createSub(store: String, st: CreateSubscription): Unit = {
    val f = subFile(store, st.db, st.rp, st.name)
    if (f.isFile) throw InfluxQLParseException("subscription already exists")
    StoreLayout.writeFile(f, (st.mode +: st.destinations).mkString("\n"))
  }

  def dropSub(store: String, name: String, db: String, rp: String): Unit = {
    val f = subFile(store, db, rp, name)
    if (!f.isFile) throw InfluxQLParseException("subscription not found")
    f.delete(): Unit
  }

  def listSubs(store: String): Seq[Sub] =
    for {
      db <- list(metaDir(store, "subs"))
      rp <- list(metaDir(store, "subs", enc(db)))
      name <- list(metaDir(store, "subs", enc(db), enc(rp)))
      lines = Files.readString(
        Paths.get(subFile(store, db, rp, name).getPath)).split('\n').toSeq
      if lines.nonEmpty
    } yield Sub(name, db, rp, lines.head, lines.tail)

  // ---- users / privileges -------------------------------------------------

  /** Password-hashed user catalog + per-db privileges (InfluxDB 1.x user
    * admin: CREATE/DROP USER, SET PASSWORD, GRANT/REVOKE, SHOW
    * USERS/GRANTS). Layout:
    * {{{
    *   _meta/users/<enc(name)>              ("<hash> <admin>")
    *   _meta/grants/<enc(user)>/<enc(db)>   ("READ"|"WRITE"|"ALL")
    * }}}
    * `<hash>` is `pbkdf2:<iters>:<salt-hex>:<dk-hex>` — PBKDF2WithHmacSHA256
    * with a per-user random salt (InfluxDB 1.x uses bcrypt; PBKDF2 is the
    * JDK-builtin salted KDF available offline). Only the hash is stored —
    * `authenticate` re-derives from the presented password and compares
    * constant-time; there is no way to read a password back. Files from
    * the pre-salt era (a bare unsalted sha256 hex) still authenticate and
    * are MIGRATED to the salted form on first successful login.
    */
  final case class User(name: String, pwHash: String, admin: Boolean)

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  // 64k iterations ≈ a few ms per derivation — a work factor in bcrypt's
  // ballpark for this admin surface; authenticate() caches verdicts so a
  // per-request credential (the reference client sends u/p on EVERY call)
  // doesn't re-pay it.
  private val Pbkdf2Iters = 64000

  private def toHex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
  private def fromHex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def pbkdf2(password: String, salt: Array[Byte], iters: Int): Array[Byte] =
    javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(new javax.crypto.spec.PBEKeySpec(
        password.toCharArray, salt, iters, 256))
      .getEncoded

  private def hashPassword(password: String): String = {
    val salt = new Array[Byte](16)
    new java.security.SecureRandom().nextBytes(salt)
    s"pbkdf2:$Pbkdf2Iters:${toHex(salt)}:${toHex(pbkdf2(password, salt, Pbkdf2Iters))}"
  }

  /** Constant-time verify against a stored hash — salted PBKDF2, or a
    * legacy bare-sha256 file (returns true so the caller can migrate).
    */
  private def verifyPassword(password: String, stored: String): Boolean =
    stored.split(':') match {
      case Array("pbkdf2", iters, saltHex, dkHex) =>
        java.security.MessageDigest.isEqual(
          pbkdf2(password, fromHex(saltHex), iters.toInt), fromHex(dkHex))
      case _ => // legacy unsalted sha256 hex
        java.security.MessageDigest.isEqual(
          sha256(password).getBytes(StandardCharsets.UTF_8),
          stored.getBytes(StandardCharsets.UTF_8))
    }

  // (store, user, presented-password-sha) → verdict; dropped whenever the
  // user's file is rewritten or removed. Bounds the KDF to once per
  // distinct credential per process — InfluxDB's auth cache does the same
  // for bcrypt.
  private val authCache =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String, String)]()
  private def dropCached(store: String, name: String): Unit =
    authCache.removeIf(k => k._1 == store && k._2 == name)

  private def userFile(store: String, name: String): File =
    metaDir(store, "users", enc(name))

  private def writeUser(store: String, u: User): Unit = {
    StoreLayout.writeFile(userFile(store, u.name), s"${u.pwHash} ${u.admin}")
  }

  private def readUser(store: String, name: String): Option[User] = {
    val f = userFile(store, name)
    if (!f.isFile) None
    else Files.readString(Paths.get(f.getPath)).split(' ') match {
      case Array(h, a) => Some(User(name, h, a.toBoolean))
      case _ => None
    }
  }

  def createUser(store: String, st: CreateUser): Unit = {
    if (readUser(store, st.name).isDefined)
      throw InfluxQLParseException("user already exists")
    dropCached(store, st.name)
    writeUser(store, User(st.name, hashPassword(st.password), st.admin))
  }

  def dropUser(store: String, name: String): Unit = {
    val f = userFile(store, name)
    if (!f.isFile) throw InfluxQLParseException("user not found")
    f.delete(): Unit
    dropCached(store, name)
    StoreLayout.rmTree(metaDir(store, "grants", enc(name)))
  }

  def setPassword(store: String, name: String, password: String): Unit = {
    val u = readUser(store, name)
      .getOrElse(throw InfluxQLParseException("user not found"))
    dropCached(store, name)
    writeUser(store, u.copy(pwHash = hashPassword(password)))
  }

  def listUsers(store: String): Seq[User] =
    list(metaDir(store, "users")).flatMap(readUser(store, _))

  /** Verify a presented credential (salted-KDF compare, constant-time).
    * Unknown user = false, same response as a wrong password — no
    * user-enumeration oracle. A successful login against a legacy
    * unsalted-sha256 file rewrites it salted (migration on first use).
    */
  def authenticate(store: String, name: String, password: String): Boolean = {
    val key = (store, name, sha256(password))
    if (authCache.contains(key)) return true
    readUser(store, name).exists { u =>
      val ok = verifyPassword(password, u.pwHash)
      if (ok) {
        if (!u.pwHash.startsWith("pbkdf2:"))
          writeUser(store, u.copy(pwHash = hashPassword(password)))
        authCache.add(key): Unit
      }
      ok
    }
  }

  def isAdmin(store: String, name: String): Boolean =
    readUser(store, name).exists(_.admin)

  /** Does the catalog hold this user? (JWT bearer identities must map to
    * a real user — InfluxDB 1.x rejects tokens naming unknown users.)
    */
  def userExists(store: String, name: String): Boolean =
    userFile(store, name).isFile

  def grant(store: String, st: Grant): Unit = {
    val u = readUser(store, st.user)
      .getOrElse(throw InfluxQLParseException("user not found"))
    st.db match {
      case None => writeUser(store, u.copy(admin = true)) // GRANT ALL TO u
      case Some(db) =>
        StoreLayout.writeFile(metaDir(store, "grants", enc(st.user), enc(db)), st.priv)
    }
  }

  def revoke(store: String, st: Revoke): Unit = {
    val u = readUser(store, st.user)
      .getOrElse(throw InfluxQLParseException("user not found"))
    st.db match {
      case None => writeUser(store, u.copy(admin = false))
      case Some(db) =>
        // REVOKE WRITE on an ALL grant leaves READ (InfluxDB's partial
        // revoke); revoking the grant's whole privilege removes the entry
        val f = metaDir(store, "grants", enc(st.user), enc(db))
        val cur = if (f.isFile) Files.readString(Paths.get(f.getPath)) else ""
        (cur, st.priv) match {
          case ("ALL", "READ")  => StoreLayout.writeFile(f, "WRITE")
          case ("ALL", "WRITE") => StoreLayout.writeFile(f, "READ")
          case (c, p) if c == p || p == "ALL" => f.delete(): Unit
          case _ => () // revoking a privilege the user lacks is a no-op
        }
    }
  }

  /** (db, privilege) pairs for SHOW GRANTS FOR u. */
  def grants(store: String, user: String): Seq[(String, String)] =
    list(metaDir(store, "grants", enc(user))).map { db =>
      db -> Files.readString(Paths.get(metaDir(store, "grants", enc(user), enc(db)).getPath))
    }

  /** Privilege check for a (user, db) pair: admins hold ALL everywhere;
    * otherwise the db grant must cover `need` ("READ" is covered by
    * READ/ALL, "WRITE" by WRITE/ALL).
    */
  def authorizedFor(store: String, user: String, db: String, need: String): Boolean =
    isAdmin(store, user) || {
      val have = grants(store, user).collectFirst { case (d, p) if d == db => p }
      have.exists(p => p == "ALL" || p == need)
    }
}

package graft.influxql

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import InfluxQLAst.InfluxQLParseException

import scala.util.control.NonFatal

/** The InfluxDB 1.x HTTP query surface — what the reference's consumers
  * actually talk to: its data lands in InfluxDB 1.7 and Grafana reads it
  * back over the `/query` endpoint (ref README.md:13-14 InfluxDB 1.7.x
  * setup, README.md:98-100 Grafana visualization). Serving the same wire
  * protocol means a Grafana InfluxDB datasource pointed at this engine
  * works unchanged.
  *
  * Endpoints (the subset Grafana's datasource uses):
  *  - `GET/POST /query?q=<influxql>[&db=...][&epoch=ns|u|ms|s|m|h]` —
  *    parses/plans/renders via [[InfluxQLResult.renderAll]]; `db` is
  *    accepted and ignored (the engine scopes by catalog, the db-per-PLC
  *    layout maps to `measurement=` partitions); `epoch` switches time
  *    rendering from RFC3339 to integer epoch. Errors return InfluxDB's
  *    `{"error":"..."}` shape with status 400.
  *  - `GET /ping` — 204 with `X-Influxdb-Version` (Grafana's health check).
  *
  * Scale/threading: query execution happens on the HTTP worker thread via
  * the shared SparkSession (thread-safe — Spark schedules concurrent jobs
  * from concurrent callers); the response body is bounded by the
  * renderer's `maxRows` cap, so a misbehaving panel cannot pull a full
  * measurement onto the driver. This is a driver-process front door for
  * dashboards, not a data-plane API.
  */
object InfluxQLHttp {

  final class Handle private[InfluxQLHttp] (server: HttpServer,
      pool: java.util.concurrent.ExecutorService,
      cqTimer: Option[java.util.concurrent.ScheduledExecutorService] = None) {
    def port: Int = server.getAddress.getPort
    def stop(): Unit = {
      cqTimer.foreach(_.shutdownNow())
      server.stop(0); pool.shutdown()
    }
  }

  /** Start serving on `port` (0 = ephemeral, returned via `Handle.port`).
    * `nowNs` pins now()-relative bounds for deterministic tests.
    */
  def start(spark: SparkSession, dir: String,
      catalog: InfluxQLPlanner.Catalog = InfluxQLPlanner.Catalog.events,
      port: Int = 0, nowNs: Option[Long] = None,
      maxRows: Int = InfluxQLResult.DefaultMaxRows,
      auth: Option[(String, String)] = None,
      jwtSecret: Option[String] = None): Handle =
    serve(spark, dir, () => catalog, None, port, nowNs, maxRows, auth,
      jwtSecret = jwtSecret)

  /** Serve a measurement+date-partitioned POINT STORE: `/query` resolves
    * the catalog PER REQUEST (a measurement created by a write appears in
    * the next query), and `/write` accepts InfluxDB 1.x line protocol —
    * the exact payload the reference's daemons POST
    * (Linux/InfluxConnector2.py:175-176) — appending to the store. The
    * full reference loop (PLC daemon → line protocol → db → Grafana)
    * runs against this one handle.
    */
  /** `cqTickSec = Some(n)` starts the CQ scheduler inside the served
    * process: every n seconds a daemon tick runs [[CqRunner.runDue]]
    * under the store's write lock (a rollup rewrite must not race
    * appends or queries), so continuous queries REGISTERED over POST
    * /query produce live rollups in the same store — InfluxDB's CQ
    * service co-located with its HTTP node.
    */
  def startStore(spark: SparkSession, storeDir: String,
      port: Int = 0, nowNs: Option[Long] = None,
      maxRows: Int = InfluxQLResult.DefaultMaxRows,
      auth: Option[(String, String)] = None,
      cqTickSec: Option[Long] = None,
      jwtSecret: Option[String] = None): Handle =
    serve(spark, storeDir, () => InfluxQLPlanner.Catalog.store(storeDir),
      Some(storeDir), port, nowNs, maxRows, auth, cqTickSec, jwtSecret)

  /** InfluxDB 1.x authentication (`auth = Some(user -> password)`): the
    * reference's client always sends credentials
    * (`InfluxDBClient('localhost', 8086, 'root', 'root', …)`,
    * Linux/InfluxConnector2.py:107) as `u`/`p` query params; Basic auth is
    * the curl/Grafana alternative. With auth unset the server stays
    * permissive and ignores them — InfluxDB's own `auth-enabled = false`
    * default. With auth set, a bad or missing credential 401s with
    * InfluxDB's `{"error":"authorization failed"}` before any parsing or
    * store work; `/ping` stays open (InfluxDB's health check needs no
    * credentials).
    */
  /** Resolve the request's identity. `None` = credentials required and
    * wrong/missing (reject 401). `Some(None)` = open server (no auth
    * configured — anonymous admin, InfluxDB's `auth-enabled = false`).
    * `Some(Some(user))` = authenticated as `user`: the configured root
    * pair, a catalog user ([[StoreMeta.authenticate]], salted-KDF
    * compare), or a JWT bearer token when `jwtSecret` is configured
    * (InfluxDB 1.x shared-secret mode). Credentials come as `u`/`p`
    * params (the reference client's form), a Basic header (curl/Grafana),
    * or `Authorization: Bearer <hs256-jwt>`. All secret comparisons are
    * constant-time (`MessageDigest.isEqual`).
    */
  private def authUser(ex: HttpExchange, params: Map[String, String],
      auth: Option[(String, String)], store: Option[String],
      jwtSecret: Option[String]): Option[Option[String]] = auth match {
    case None => Some(None)
    case Some((rootU, rootP)) =>
      def ctEq(a: String, b: String): Boolean =
        java.security.MessageDigest.isEqual(
          a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))
      val header = Option(ex.getRequestHeaders.getFirst("Authorization"))
      // Bearer tokens (shared-secret JWT): the username CLAIM is the
      // identity — the user must be the root name or exist in the
      // catalog, privileges resolve from there, no password round trip.
      val bearer = for {
        secret <- jwtSecret
        h <- header if h.startsWith("Bearer ")
        user <- Jwt.verify(h.drop(7).trim, secret)
        if ctEq(user, rootU) || store.exists(StoreMeta.userExists(_, user))
      } yield user
      if (bearer.isDefined) return Some(bearer)
      val cred: Option[(String, String)] =
        (params.get("u"), params.get("p")) match {
          case (Some(u), Some(p)) => Some((u, p))
          case _ =>
            header
              .filter(_.startsWith("Basic "))
              .map(h => new String(java.util.Base64.getDecoder.decode(h.drop(6)),
                StandardCharsets.UTF_8))
              .flatMap(_.split(":", 2) match {
                case Array(u, p) => Some((u, p))
                case _           => None
              })
        }
      cred match {
        case Some((u, p)) if ctEq(u, rootU) && ctEq(p, rootP) => Some(Some(u))
        case Some((u, p)) if store.exists(StoreMeta.authenticate(_, u, p)) =>
          Some(Some(u))
        case _ => None
      }
  }

  /** Admin = the configured root identity, a catalog user holding ALL
    * PRIVILEGES, or anybody on an open server.
    */
  private def isAdminUser(user: Option[String],
      auth: Option[(String, String)], store: Option[String]): Boolean =
    (user, auth) match {
      case (None, _) => true // open server
      case (Some(u), Some((rootU, _))) if u == rootU => true
      case (Some(u), _) => store.exists(StoreMeta.isAdmin(_, u))
    }

  private def isUserAdminStatement(st: InfluxQLAst.Statement): Boolean = st match {
    case _: InfluxQLAst.CreateUser | _: InfluxQLAst.DropUser |
         _: InfluxQLAst.SetPassword | _: InfluxQLAst.Grant |
         _: InfluxQLAst.Revoke | InfluxQLAst.ShowUsers |
         _: InfluxQLAst.ShowGrants => true
    // Subscription management is ADMIN-only (InfluxDB 1.x requires admin):
    // a subscription receives every matching write on the server, so
    // letting a WRITE-privileged user register an arbitrary destination
    // URL would hand them other tenants' data.
    case _: InfluxQLAst.CreateSubscription | _: InfluxQLAst.DropSubscription |
         InfluxQLAst.ShowSubs => true
    case _ => false
  }

  private def serve(spark: SparkSession, dir: String,
      catalog: () => InfluxQLPlanner.Catalog, writeStore: Option[String],
      port: Int, nowNs: Option[Long], maxRows: Int,
      auth: Option[(String, String)] = None,
      cqTickSec: Option[Long] = None,
      jwtSecret: Option[String] = None): Handle = {
    // a served store first resolves any crash leftovers, before a request
    writeStore.foreach(graft.sinks.StoreLayout.recover)
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    // Store-level concurrency control (InfluxDB's storage engine does the
    // equivalent with shard-level locks). Whatever removes or swaps a
    // partition's files (DELETE, DROP, retention, a CQ's overwrite, the
    // compaction swap) takes the WRITE side. Queries and /write appends
    // take the READ side: an append only adds one uniquely named file,
    // renamed into place, so appends commute with each other and with
    // scans. Without the write side, an acked /write landing between a
    // DELETE's read and its swap would be lost, and a scan racing a DROP
    // would die on FileNotFound. Fair mode so a dashboard's refresh loop
    // cannot starve a pending admin mutation.
    val lock = new java.util.concurrent.locks.ReentrantReadWriteLock(true)
    server.createContext("/query", (ex: HttpExchange) =>
      handleQuery(ex, spark, dir, catalog, nowNs, maxRows, writeStore, lock, auth, jwtSecret))
    writeStore.foreach { store =>
      server.createContext("/write", (ex: HttpExchange) =>
        handleWrite(ex, spark, store, nowNs, lock, auth, jwtSecret))
      // the ANN front door (r11): vectors in, probed-cell top-k out —
      // the VectorIndexStore lifecycle behind the same HTTP surface
      server.createContext("/ann/write", (ex: HttpExchange) =>
        handleAnnWrite(ex, spark, store, lock, auth, jwtSecret))
      server.createContext("/ann/query", (ex: HttpExchange) =>
        handleAnnQuery(ex, spark, store, lock, auth, jwtSecret))
    }
    server.createContext("/ping", (ex: HttpExchange) => {
      ex.getResponseHeaders.set("X-Influxdb-Version", "1.7-graft")
      ex.sendResponseHeaders(204, -1)
      ex.close()
    })
    // without an executor the JDK server dispatches every request on ONE
    // thread — a slow panel query would queue all other panels and /ping
    // behind it; a cached pool makes callers genuinely concurrent (Spark
    // schedules their jobs fairly)
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    server.start()
    // co-located maintenance daemon: each tick runs due CQs, then folds
    // the direct-append small files away (PointStoreDirect.compact — the
    // InfluxDB background-compactor role), all under the write lock.
    // Errors log per tick; a broken CQ or compaction must not kill the
    // scheduler thread — InfluxDB's services log and continue the same way.
    val cqTimer = for { sec <- cqTickSec; store <- writeStore } yield {
      val t = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => { val th = new Thread(r, "graft-cq-tick"); th.setDaemon(true); th })
      // the write lock taken only for the index's one exclusive step
      // (the commit) — see the tick call below
      val crit = new graft.sinks.VectorIndexStore.Critical {
        def apply[T](f: => T): T = {
          lock.writeLock.lock()
          try f finally lock.writeLock.unlock()
        }
      }
      t.scheduleAtFixedRate(() => {
        try {
          // epoch ns (CQ bucket math) — NOT nanoTime (monotonic-only)
          val now = nowNs.getOrElse(System.currentTimeMillis() * 1000000L)
          lock.writeLock.lock()
          try {
            CqRunner.runDue(spark, store, now): Unit
            graft.sinks.PointStoreDirect.compact(spark, store): Unit
            // the retention service: expired date-partitions drop on the
            // same cadence (StoreMeta.enforceRetention — default-RP driven)
            StoreMeta.enforceRetention(store, java.time.LocalDate.ofInstant(
              java.time.Instant.ofEpochSecond(Math.floorDiv(now, 1000000000L)),
              java.time.ZoneOffset.UTC)): Unit
          } finally lock.writeLock.unlock()
          // Vector-index maintenance rides the same tick but runs OUTSIDE
          // the store write lock (r12, VERDICT r11 #1: an IVF retrain is
          // 241 s at sf10 — hours at 100 TB — and holding the fair lock
          // across it froze every /query, /write and /ann/* call for the
          // whole build). The tick takes the lock only through `crit`,
          // around its commit; queries keep serving the old version while
          // the next one is staged. (A no-op tick stays cheap — directory
          // listings only.)
          graft.sinks.VectorIndexStore.tick(spark, annIndexDir(store),
            crit = crit): Unit
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft-cq] tick failed: ${e.getMessage}")
        }
      }, sec, sec, java.util.concurrent.TimeUnit.SECONDS)
      t
    }
    new Handle(server, pool, cqTimer)
  }

  // subscription fan-out: forwards run on their own daemon pool AFTER the
  // writer is acked (InfluxDB's subscription writes are async best-effort
  // too — a dead Kapacitor must not fail or slow producers); failures log
  // per destination and are never retried here (the subscriber's job)
  private val subPool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => { val t = new Thread(r, "graft-sub-forward"); t.setDaemon(true); t })
  private val anyCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Forward an accepted write to the subscriptions registered for its
    * (db, retention policy) — and ONLY those. The forward URL carries
    * db/rp/precision alone: credentials (`u`/`p`) from the original
    * request are STRIPPED, because destinations are arbitrary registered
    * URLs — forwarding the raw query string verbatim would hand the
    * writer's (possibly root) credentials to whoever registered the
    * subscription. A write with no `rp` param lands on the db's default
    * policy (its default RP, else `autogen`), InfluxDB's routing.
    */
  private def forwardToSubscriptions(storeDir: String,
      params: Map[String, String], body: String): Unit = {
    val db = params.getOrElse("db", "")
    val effRp = params.get("rp").filter(_.nonEmpty).getOrElse(
      StoreMeta.listRps(storeDir, Some(db)).find(_.isDefault)
        .map(_.name).getOrElse("autogen"))
    val fwdQuery = (Seq("db" -> db, "rp" -> effRp) ++
      params.get("precision").map("precision" -> _))
      .collect { case (k, v) if v.nonEmpty =>
        s"$k=${java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)}" }
      .mkString("&")
    StoreMeta.listSubs(storeDir)
      .filter(sub => sub.db == db && sub.rp == effRp)
      .foreach { sub =>
      val targets = sub.mode match {
        case "ANY" => // load-balance: rotate one destination per batch
          Seq(sub.destinations(
            (anyCounter.getAndIncrement() % sub.destinations.size).toInt))
        case _ => sub.destinations
      }
      targets.foreach { dest =>
        if (dest.startsWith("http://") || dest.startsWith("https://"))
          subPool.execute { () =>
            try {
              val url = new java.net.URI(dest.stripSuffix("/") + "/write" +
                (if (fwdQuery.isEmpty) "" else s"?$fwdQuery")).toURL
              val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
              conn.setConnectTimeout(2000)
              conn.setReadTimeout(5000)
              conn.setRequestMethod("POST")
              conn.setDoOutput(true)
              conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
              conn.getResponseCode: Unit
              conn.disconnect()
            } catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(s"[graft-sub] forward to $dest failed: ${e.getMessage}")
            }
          }
        else System.err.println(
          s"[graft-sub] unsupported destination scheme: $dest (http/https only)")
      }
    }
  }

  /** POST /write — InfluxDB 1.x line-protocol ingest, the HOT PATH (the
    * reference daemon POSTs once per sample,
    * Linux/InfluxConnector2.py:176). The body is parsed DRIVER-LOCALLY
    * ([[graft.sinks.LineProtocolLocal]], graft's one line-protocol
    * parser) and appended
    * with a direct ParquetWriter ([[graft.sinks.PointStoreDirect]]): no
    * Spark job anywhere on the request, which lifted serial ingest from
    * ~6 POSTs/sec (one job-scheduling round trip per POST) to hundreds
    * (PERF.md). Bulk 100 TB ingest still goes through the streaming
    * pipeline's executor-side writers, not this endpoint.
    *
    * Point mapping (store convention: tag `alias`, numeric `value`):
    *  - `m,alias=<t> <k>=<v> [ts]` with ONE field → point (t, v) — the
    *    reference daemon's shape;
    *  - otherwise one point PER numeric field, alias = field key — so a
    *    multi-field `m f1=1,f2=2` lands as two points (Telegraf/influx-CLI
    *    shape), each queryable as its own alias;
    *  - lines without a timestamp get the server clock (InfluxDB's
    *    behavior), pinned by `nowNs` in tests; `precision=` scales bare
    *    timestamps.
    * Tags other than `alias` persist as the point's tag set (r9): a
    * canonical-JSON `tags` column in the store schema (keys sorted — the
    * string IS the series identity), queryable via `WHERE host='a'`,
    * `GROUP BY host`, and the SHOW TAG surfaces. The reference's own
    * writes carry no tags (Linux/InfluxConnector2.py:222-240) and land
    * with a null tag set, exactly like every pre-r9 store file.
    * Any unparseable line — or a non-numeric field value, incl. quoted
    * strings like `value="3.5"` (wire-typed STRING; this store holds
    * doubles) — rejects the whole batch with 400, InfluxDB's
    * all-or-nothing write contract. 204 on success. `Content-Encoding:
    * gzip` bodies are accepted (the Telegraf default).
    */
  private def handleWrite(ex: HttpExchange, spark: SparkSession,
      storeDir: String, nowNs: Option[Long],
      lock: java.util.concurrent.locks.ReentrantReadWriteLock,
      auth: Option[(String, String)],
      jwtSecret: Option[String]): Unit = {
    try {
      val wparams = parseParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      val who = authUser(ex, wparams, auth, Some(storeDir), jwtSecret) match {
        case None =>
          respond(ex, 401, errJson("authorization failed")); return
        case Some(w) => w
      }
      // non-admin writers need WRITE (or ALL) on the target db param —
      // InfluxDB 1.x's per-database write privilege
      if (!isAdminUser(who, auth, Some(storeDir))) {
        val db = wparams.getOrElse("db", "")
        if (db.isEmpty || !StoreMeta.authorizedFor(storeDir, who.get, db, "WRITE")) {
          respond(ex, 403, errJson(
            s"""user "${who.get}" is not authorized to write to database "$db"""")); return
        }
      }
      if (ex.getRequestMethod != "POST") {
        respond(ex, 405, errJson("/write accepts POST only")); return
      }
      // precision= scales bare line timestamps (InfluxDB 1.x: n[s]/u/ms/s)
      val mult = wparams.getOrElse("precision", "ns") match {
        case "ns" | "n" => 1L
        case "u" | "us" => 1000L
        case "ms"       => 1000000L
        case "s"        => 1000000000L
        case "m"        => 60L * 1000000000L
        case "h"        => 3600L * 1000000000L
        case other =>
          respond(ex, 400, errJson(s"invalid precision: $other (ns|u|ms|s|m|h)")); return
      }
      // InfluxDB 1.x [http] max-body-size (default 25 MB): a request body
      // beyond the cap 413s before buffering it whole — the driver-process
      // front door must not be OOM-able by one oversized (or gzip-bombed)
      // POST. The cap applies to the DECOMPRESSED size: the gzip stream is
      // read through the same bounded reader.
      val maxBody = 25 * 1024 * 1024
      def readCapped(is: java.io.InputStream): Option[Array[Byte]] = {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = is.read(buf)
        while (n >= 0 && out.size <= maxBody) {
          out.write(buf, 0, n); n = is.read(buf)
        }
        if (out.size > maxBody) None else Some(out.toByteArray)
      }
      val gzipped = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
        .exists(_.toLowerCase.contains("gzip"))
      val capped = readCapped(
        if (gzipped) new java.util.zip.GZIPInputStream(ex.getRequestBody)
        else ex.getRequestBody)
      val body = capped match {
        case None =>
          respond(ex, 413, errJson(
            s"request body too large (limit $maxBody bytes)")); return
        case Some(bytes) => new String(bytes, StandardCharsets.UTF_8)
      }
      val lines = body.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
      if (lines.isEmpty) {
        respond(ex, 400, errJson("empty write body")); return
      }
      // Driver-local parse (NO Spark job — see the scaladoc above), then
      // shape into store points. A line with an `alias` tag and exactly
      // one field is the reference daemon's single-point form; every
      // other line explodes to one point per field with the field key as
      // the alias.
      import graft.sinks.{LineProtocolLocal, PointStoreDirect}
      val serverNs = nowNs.getOrElse(System.currentTimeMillis() * 1000000L)
      val points = Vector.newBuilder[PointStoreDirect.Point]
      for (line <- lines) {
        LineProtocolLocal.parseLine(line) match {
          case Left(reason) =>
            respond(ex, 400, errJson(s"unable to parse line: '$line' ($reason)")); return
          case Right(p) =>
            val tsNs = p.tsNs.map(_ * mult).getOrElse(serverNs)
            val singleAlias = p.tags.get("alias").filter(_ => p.fields.size == 1)
            // every OTHER tag persists as the point's canonical-JSON tag
            // set (r9 — pre-r9 they were a documented discard): the
            // Telegraf `cpu,host=a,region=b usage=1` shape keeps its
            // dimensions and queries back via WHERE host='a' / GROUP BY
            // host / SHOW TAG KEYS|VALUES
            val tagSet = PointStoreDirect.canonicalTags(p.tags - "alias")
            for (f <- p.fields) f.num match {
              case Some(v) =>
                points += PointStoreDirect.Point(tsNs, p.measurement,
                  singleAlias.getOrElse(f.key), v, tagSet)
              case None =>
                respond(ex, 400, errJson(s"unable to parse line: '$line' " +
                  s"(field '${f.key}' is not numeric — this store holds float values)"))
                return
            }
        }
      }
      // READ side of the store lock, ONLY around the append: direct
      // appends are mutually disjoint (unique filenames, no shared
      // staging dir) and only ever ADD files, so they commute with each
      // other and with query scans — concurrent writers genuinely run in
      // parallel. What they must NOT race is anything that removes or
      // rewrites partition contents — DELETE/DROP, a CQ tick's dynamic
      // overwrite, the compaction swap — and those all hold the WRITE
      // side, which excludes every in-flight append. Body read, parse,
      // and validation all run unlocked so a slow-uploading client cannot
      // stall the HTTP surface.
      lock.readLock.lock()
      try PointStoreDirect.append(points.result(), storeDir)
      finally lock.readLock.unlock()
      ex.getResponseHeaders.set("X-Influxdb-Version", "1.7-graft")
      ex.sendResponseHeaders(204, -1)
      ex.close()
      // accepted writes fan out to registered subscriptions — after the
      // ack, off-thread, credentials stripped, scoped to the write's
      // (db, rp) (see forwardToSubscriptions)
      forwardToSubscriptions(storeDir, wparams, body)
    } catch {
      case NonFatal(e) => respond(ex, 500, errJson(String.valueOf(e.getMessage)))
    }
  }

  /** The served store's vector index lives INSIDE the store directory
    * (invisible to the measurement catalog, which only lists
    * `measurement=` dirs) so one daemon tick maintains both artifacts. */
  private[influxql] def annIndexDir(storeDir: String) = s"$storeDir/_vector_index"

  /** POST /ann/write — the vector-ingest twin of /write (r11, VERDICT r10
    * #4): one `vec_id v1,v2,…,vd` line per vector. Lands in the index's
    * `delta/` via [[graft.sinks.VectorIndexStore.appendLocal]] — NO index
    * work on the ingest path (the lazy-invalidation contract); the daemon
    * tick bootstraps or folds it ([[graft.sinks.VectorIndexStore.tick]]).
    * Mutating the one store-global index is admin-gated when auth is
    * configured (the subscription precedent). 204 on success.
    */
  private def handleAnnWrite(ex: HttpExchange, spark: SparkSession,
      storeDir: String,
      lock: java.util.concurrent.locks.ReentrantReadWriteLock,
      auth: Option[(String, String)],
      jwtSecret: Option[String]): Unit = {
    try {
      val params = parseParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      val who = authUser(ex, params, auth, Some(storeDir), jwtSecret) match {
        case None => respond(ex, 401, errJson("authorization failed")); return
        case Some(w) => w
      }
      if (!isAdminUser(who, auth, Some(storeDir))) {
        respond(ex, 403, errJson(
          s"""user "${who.get}" is not authorized to modify the vector index""")); return
      }
      if (ex.getRequestMethod != "POST") {
        respond(ex, 405, errJson("/ann/write accepts POST only")); return
      }
      val maxBody = 25 * 1024 * 1024
      val bytes = ex.getRequestBody.readNBytes(maxBody + 1)
      if (bytes.length > maxBody) {
        respond(ex, 413, errJson(s"request body too large (limit $maxBody bytes)")); return
      }
      val lines = new String(bytes, StandardCharsets.UTF_8)
        .split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
      if (lines.isEmpty) { respond(ex, 400, errJson("empty write body")); return }
      val parsed = lines.map { line =>
        val sp = line.indexOf(' ')
        if (sp <= 0) Left(line)
        else try Right((line.substring(0, sp).toLong,
          line.substring(sp + 1).split(',').map(_.trim.toFloat)))
        catch { case _: NumberFormatException => Left(line) }
      }
      parsed.collectFirst { case Left(bad) => bad } match {
        case Some(bad) =>
          respond(ex, 400, errJson(
            s"unable to parse vector line: '$bad' (expected: vec_id v1,v2,…)")); return
        case None => ()
      }
      val rows = parsed.collect { case Right(r) => r }
      val dims = rows.map(_._2.length).distinct
      if (dims.size > 1) {
        respond(ex, 400, errJson(
          s"inconsistent vector dimensions in one write: ${dims.mkString(",")}")); return
      }
      // one dimension per index, enforced BEFORE anything lands (r11):
      // the first accepted write fixes it, later mismatches 400
      try graft.sinks.VectorIndexStore.checkDim(annIndexDir(storeDir), dims.head)
      catch { case e: IllegalArgumentException =>
        respond(ex, 400, errJson(e.getMessage)); return
      }
      // read side: delta appends only ADD files (the /write argument) and
      // the DIRECT writer gives each POST its own UUID file — concurrent
      // appends never share staging state (AnnChaosSpec pins this); the
      // tick's commit holds the write side
      lock.readLock.lock()
      try graft.sinks.VectorIndexStore.appendLocal(rows, annIndexDir(storeDir))
      finally lock.readLock.unlock()
      ex.getResponseHeaders.set("X-Influxdb-Version", "1.7-graft")
      ex.sendResponseHeaders(204, -1)
      ex.close()
    } catch {
      case NonFatal(e) => respond(ex, 500, errJson(String.valueOf(e.getMessage)))
    }
  }

  /** GET /ann/query?probe=v1,v2,…[&k=10][&nprobe=3] — exact-cosine top-k
    * over the nprobe nearest IVF cells ([[graft.sinks.VectorIndexStore
    * .search]]: the cluster predicate prunes the partitioned lists at
    * file-listing level). Returns `{"results":[{"vec_id":…,"score":…,
    * "cluster":…}…],"stale":n}` where `stale` counts vectors appended but
    * not yet folded by a tick (the documented staleness window). 503
    * until the first tick builds the index.
    *
    * POST /ann/query[?k&nprobe] (r12) — the BATCH form a real consumer
    * sends: one `probe_id v1,v2,…` line per probe (the /ann/write line
    * shape), answered in ONE [[graft.sinks.VectorIndexStore.searchBatch]]
    * plan — per-probe cell selection against the broadcast centroid
    * table, the union of probed cells pruned once. Returns
    * `{"results":[{"probe_id":…,"hits":[{"vec_id":…,"score":…,"rnk":…}…]}…],
    * "stale":n}`.
    */
  private def handleAnnQuery(ex: HttpExchange, spark: SparkSession,
      storeDir: String,
      lock: java.util.concurrent.locks.ReentrantReadWriteLock,
      auth: Option[(String, String)],
      jwtSecret: Option[String]): Unit = {
    try {
      val params = parseParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      authUser(ex, params, auth, Some(storeDir), jwtSecret) match {
        case None => respond(ex, 401, errJson("authorization failed")); return
        case Some(_) => ()
      }
      if (ex.getRequestMethod == "POST") {
        handleAnnQueryBatch(ex, spark, storeDir, lock, params); return
      }
      // malformed numerics (k=abc, nprobe=, probe=1,x,3) are CLIENT errors
      // — parse them under a catch so they 400 like missing/out-of-range
      // params instead of escaping to the generic 500 handler (ADVICE r11)
      val (probe, k, nprobe) =
        try {
          val pr = params.get("probe").map(_.split(',').toSeq.map(_.trim.toDouble))
            .getOrElse { respond(ex, 400, errJson("missing probe=v1,v2,… param")); return }
          if (pr.exists(v => v.isNaN || v.isInfinite))
            throw new NumberFormatException("probe values must be finite")
          (pr, params.get("k").map(_.trim.toInt).getOrElse(10),
            params.get("nprobe").map(_.trim.toInt).getOrElse(3))
        } catch {
          case e: NumberFormatException =>
            respond(ex, 400, errJson(
              s"malformed numeric parameter: ${String.valueOf(e.getMessage)} " +
                "(expected probe=v1,v2,… with integer k and nprobe)")); return
        }
      if (k <= 0 || k > 1000 || nprobe <= 0) {
        respond(ex, 400, errJson("k must be in [1,1000] and nprobe >= 1")); return
      }
      val idx = annIndexDir(storeDir)
      // a probe of the wrong dimensionality can never match — reject it
      // as a client error instead of letting a distance call blow up.
      // (match, not foreach: a `return` inside a lambda is a
      // NonLocalReturnControl throw, which a catch-all handler would
      // intercept and double-respond on)
      graft.sinks.VectorIndexStore.dimOf(idx) match {
        case Some(d) if probe.size != d =>
          respond(ex, 400, errJson(
            s"probe has ${probe.size} dimensions; the index holds $d")); return
        case _ => ()
      }
      lock.readLock.lock()
      val out = try {
        if (!graft.sinks.VectorIndexStore.built(idx)) {
          val stale = graft.sinks.VectorIndexStore.staleCount(spark, idx)
          respond(ex, 503, errJson(
            s"vector index not built yet ($stale vectors pending the next tick)")); return
        }
        val hits = graft.sinks.VectorIndexStore.search(spark, idx, probe, k, nprobe)
          .collect()
        val stale = graft.sinks.VectorIndexStore.staleCount(spark, idx)
        val items = hits.map { r =>
          s"""{"vec_id":${r.getLong(0)},"score":${r.getDouble(1)},"cluster":${r.getInt(2)}}"""
        }.mkString(",")
        s"""{"results":[$items],"stale":$stale}"""
      } finally lock.readLock.unlock()
      respond(ex, 200, out)
    } catch {
      case NonFatal(e) => respond(ex, 500, errJson(String.valueOf(e.getMessage)))
    }
  }

  /** The POST /ann/query batch path: parse `probe_id v1,v2,…` lines,
    * dimension-check against the index, answer all probes in one
    * searchBatch plan under the read lock.
    */
  private def handleAnnQueryBatch(ex: HttpExchange, spark: SparkSession,
      storeDir: String,
      lock: java.util.concurrent.locks.ReentrantReadWriteLock,
      params: Map[String, String]): Unit = {
    val (k, nprobe) =
      try (params.get("k").map(_.trim.toInt).getOrElse(10),
        params.get("nprobe").map(_.trim.toInt).getOrElse(3))
      catch {
        case e: NumberFormatException =>
          respond(ex, 400, errJson(
            s"malformed numeric parameter: ${String.valueOf(e.getMessage)}")); return
      }
    if (k <= 0 || k > 1000 || nprobe <= 0) {
      respond(ex, 400, errJson("k must be in [1,1000] and nprobe >= 1")); return
    }
    val maxBody = 25 * 1024 * 1024
    val bytes = ex.getRequestBody.readNBytes(maxBody + 1)
    if (bytes.length > maxBody) {
      respond(ex, 413, errJson(s"request body too large (limit $maxBody bytes)")); return
    }
    val lines = new String(bytes, StandardCharsets.UTF_8)
      .split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
    if (lines.isEmpty) { respond(ex, 400, errJson("empty probe body")); return }
    if (lines.size > 10000) {
      respond(ex, 413, errJson("too many probes in one batch (limit 10000)")); return
    }
    // the response materializes probes×k hit rows on the driver — bound
    // the product, not just each factor (10k probes × k=1000 is 10M rows)
    if (lines.size.toLong * k > 1000000L) {
      respond(ex, 413, errJson(
        s"probes × k = ${lines.size.toLong * k} exceeds the 1e6 result cap")); return
    }
    val parsed = lines.map { line =>
      val sp = line.indexOf(' ')
      if (sp <= 0) Left(line)
      else try Right((line.substring(0, sp).toLong,
        line.substring(sp + 1).split(',').map(_.trim.toFloat)))
      catch { case _: NumberFormatException => Left(line) }
    }
    parsed.collectFirst { case Left(bad) => bad } match {
      case Some(bad) =>
        respond(ex, 400, errJson(
          s"unable to parse probe line: '$bad' (expected: probe_id v1,v2,…)")); return
      case None => ()
    }
    val probes = parsed.collect { case Right(r) => r }
    if (probes.exists(_._2.exists(v => v.isNaN || v.isInfinite))) {
      respond(ex, 400, errJson("probe values must be finite")); return
    }
    val idx = annIndexDir(storeDir)
    val dimBad = graft.sinks.VectorIndexStore.dimOf(idx).flatMap(d =>
      probes.find(_._2.length != d).map(p => (p._1, p._2.length, d)))
    dimBad match {
      case Some((pid, got, d)) =>
        respond(ex, 400, errJson(
          s"probe $pid has $got dimensions; the index holds $d")); return
      case None => ()
    }
    lock.readLock.lock()
    val out = try {
      if (!graft.sinks.VectorIndexStore.built(idx)) {
        val stale = graft.sinks.VectorIndexStore.staleCount(spark, idx)
        respond(ex, 503, errJson(
          s"vector index not built yet ($stale vectors pending the next tick)")); return
      }
      val sq = spark; import sq.implicits._
      val pdf = probes.toDF("probe_id", "embedding")
      val hits = graft.sinks.VectorIndexStore
        .searchBatch(spark, idx, pdf, topK = k, nprobe = nprobe)
        .collect()
      val stale = graft.sinks.VectorIndexStore.staleCount(spark, idx)
      val byProbe = hits.groupBy(_.getLong(0))
      val items = probes.map(_._1).distinct.map { pid =>
        val hs = byProbe.getOrElse(pid, Array.empty[org.apache.spark.sql.Row])
          .sortBy(_.getInt(3))
          .map(r => s"""{"vec_id":${r.getLong(1)},"score":${r.getDouble(2)},""" +
            s""""rnk":${r.getInt(3)}}""").mkString(",")
        s"""{"probe_id":$pid,"hits":[$hs]}"""
      }.mkString(",")
      s"""{"results":[$items],"stale":$stale}"""
    } finally lock.readLock.unlock()
    respond(ex, 200, out)
  }

  /** Is this statement a store mutation (InfluxDB runs these through
    * POST /query, not a separate endpoint)?
    */
  private def isMutating(st: InfluxQLAst.Statement): Boolean = st match {
    case _: InfluxQLAst.Delete | _: InfluxQLAst.DropSeries |
         _: InfluxQLAst.DropMeasurement => true
    // admin lifecycle: metadata mutations (CREATE DATABASE is what the
    // reference's client issues at connect, Linux/InfluxConnector2.py:107)
    case _: InfluxQLAst.CreateDatabase | _: InfluxQLAst.DropDatabase |
         _: InfluxQLAst.CreateCq | _: InfluxQLAst.DropCq |
         _: InfluxQLAst.CreateRetention | _: InfluxQLAst.AlterRetention |
         _: InfluxQLAst.DropRetention => true
    case _: InfluxQLAst.CreateUser | _: InfluxQLAst.DropUser |
         _: InfluxQLAst.SetPassword | _: InfluxQLAst.Grant |
         _: InfluxQLAst.Revoke => true
    case _: InfluxQLAst.DropShard => true
    case _: InfluxQLAst.CreateSubscription | _: InfluxQLAst.DropSubscription => true
    case _ => false
  }

  /** Build (but do not execute) a renderable statement's plan, so a
    * mutating batch can surface plan-time errors — unknown measurement,
    * unsupported shapes — BEFORE its first destructive statement runs.
    * Mirrors the renderer's own planning; the plans are discarded.
    */
  private def dryPlan(spark: SparkSession, dir: String,
      st: InfluxQLAst.Statement, nowNs: Option[Long],
      catalog: InfluxQLPlanner.Catalog): Unit = st match {
    case s: InfluxQLAst.Select if s.measurement.startsWith("re:") && s.fromSub.isEmpty =>
      catalog.matchMeasurements(s.measurement).foreach(m =>
        InfluxQLPlanner.plan(spark, dir, s.copy(measurement = m), nowNs, catalog): Unit)
    case s: InfluxQLAst.Select =>
      InfluxQLPlanner.plan(spark, dir, s, nowNs, catalog): Unit
    // plain FROM validates, FROM /re/ expands (errors when nothing
    // matches) — the same resolution the planner runs
    case sh: InfluxQLAst.Show => sh.from.foreach(catalog.matchMeasurements(_): Unit)
    case tv: InfluxQLAst.ShowTagValues =>
      tv.from.foreach(catalog.matchMeasurements(_): Unit)
      // the same selector + WHERE validation the planner runs
      InfluxQLPlanner.tagValueKeys(catalog, tv): Unit
    case InfluxQLAst.ShowQueries => () // registry-only, nothing to plan
    case InfluxQLAst.ShowCqs     => () // meta-only, nothing to plan
    case InfluxQLAst.ShowUsers | _: InfluxQLAst.ShowGrants => () // meta-only
    case InfluxQLAst.ShowShards | InfluxQLAst.ShowShardGroups => () // store-layout-only
    case InfluxQLAst.ShowStats | InfluxQLAst.ShowDiagnostics => () // metadata-only
    case InfluxQLAst.ShowSubs => () // meta-only, nothing to plan
    // EXPLAIN validates exactly like the SELECT it wraps
    case e: InfluxQLAst.Explain => dryPlan(spark, dir, e.select, nowNs, catalog)
    // anything else would fail renderStatement as "not a renderable
    // result" AFTER earlier mutations ran — reject it up front instead
    case other =>
      throw InfluxQLAst.InfluxQLParseException(s"not a renderable result: $other")
  }

  private def handleQuery(ex: HttpExchange, spark: SparkSession, dir: String,
      catalog0: () => InfluxQLPlanner.Catalog, nowNs: Option[Long], maxRows: Int,
      writeStore: Option[String],
      lock: java.util.concurrent.locks.ReentrantReadWriteLock,
      auth: Option[(String, String)],
      jwtSecret: Option[String] = None): Unit = {
    try {
      val catalog = catalog0() // one snapshot per request (render paths)
      // Grafana sends GET with URI params or POST with a form body —
      // accept both, URI params winning on duplicates.
      val body =
        if (ex.getRequestMethod == "POST")
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        else ""
      val params = parseParams(body) ++ parseParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      val who = authUser(ex, params, auth, writeStore, jwtSecret) match {
        case None =>
          respond(ex, 401, errJson("authorization failed")); return
        case Some(w) => w
      }
      val admin = isAdminUser(who, auth, writeStore)
      val epoch0 = params.get("epoch").filter(_.nonEmpty)
      val pretty = params.get("pretty").contains("true")
      // InfluxDB keys CSV off the Accept header; CSV times default to
      // epoch ns (RFC3339 is a JSON-only rendering)
      val wantCsv = Option(ex.getRequestHeaders.getFirst("Accept"))
        .exists(_.contains("application/csv"))
      // validate the unit BEFORE any chunked 200 header commits the
      // exchange — a lazy render-time failure could not 400 anymore
      epoch0.foreach(InfluxQLResult.epochDiv)
      // CSV defaults times to epoch-ns; chunked mode stays JSON whatever
      // the Accept header says, so it keeps the caller's epoch0 untouched
      val epoch = if (wantCsv && epoch0.isEmpty) Some("ns") else epoch0
      params.get("q") match {
        case None | Some("") =>
          respond(ex, 400, """{"error":"missing required parameter \"q\""}""")
        case Some(q) =>
          // parse ONCE: route mutations, then hand the ASTs to whichever
          // branch runs — no render→reparse round trips on any path
          val sts = InfluxQLParser.parseAll(q)
          // per-request clock for the query registry: pinned in tests,
          // monotonic in production (durations, not wall timestamps)
          val clock: () => Long = () => nowNs.getOrElse(System.nanoTime())
          val db = params.getOrElse("db", "")
          // InfluxDB 1.x privilege model (only bites on auth-enabled
          // servers): user administration is admin-only; a non-admin needs
          // READ on the `db` param to query and WRITE to mutate/ingest —
          // checked BEFORE planning so an unauthorized probe does no work.
          if (!admin) {
            if (sts.exists(isUserAdminStatement)) {
              respond(ex, 403, errJson(
                s"""user "${who.get}" is not authorized to execute statement"""))
              return
            }
            val need = if (sts.exists(isMutating)) "WRITE" else "READ"
            val ok = db.nonEmpty &&
              writeStore.exists(StoreMeta.authorizedFor(_, who.get, db, need))
            if (!ok) {
              respond(ex, 403, errJson(s"""user "${who.get}" is not authorized to """ +
                s"""${if (need == "WRITE") "modify" else "read from"} database "$db""""))
              return
            }
          }
          if (sts.exists(_.isInstanceOf[InfluxQLAst.KillQuery])) {
            // KILL deliberately takes NO store lock and no job group: the
            // victim may be holding the read side, and a kill queued
            // behind it could never fire. Sole-statement + POST only —
            // InfluxDB's admin tools send exactly that shape.
            if (sts.size > 1)
              respond(ex, 400, errJson("KILL QUERY must be the only statement in a batch"))
            else if (ex.getRequestMethod != "POST")
              respond(ex, 400, errJson("KILL QUERY requires POST"))
            else {
              InfluxQLQueries.kill(spark,
                sts.head.asInstanceOf[InfluxQLAst.KillQuery].qid)
              respond(ex, 200, """{"results":[{"statement_id":0}]}""")
            }
          }
          else if (sts.exists(isMutating)) writeStore match {
            case None =>
              respond(ex, 400, errJson(
                "mutating statements need a store-backed server (startStore)"))
            case Some(_) if ex.getRequestMethod != "POST" =>
              respond(ex, 400, errJson("mutating statements require POST"))
            case Some(store) =>
              // The store's write lock covers validation AND execution:
              // the dry-plan pass reads store partitions (schema
              // inference), which must not race another request's
              // in-flight DELETE rewrite. Validation first — shape-check
              // mutations and dry-plan every other statement BEFORE the
              // first mutation runs: any InfluxQLParseException here 400s
              // the batch with NOTHING executed, so a statement error
              // cannot leave statements 1..N-1 half-applied behind a
              // response claiming the query string was rejected. (The
              // dry plans are discarded and rebuilt by renderStatement —
              // double planning is accepted on this rare admin path to
              // keep the renderer's entry points simple.)
              lock.writeLock.lock()
              val respBody = try {
                sts.foreach {
                  case d: InfluxQLAst.Delete          => InfluxQLPlanner.validateDelete(d)
                  case s: InfluxQLAst.DropSeries      => InfluxQLPlanner.validateDropSeries(s)
                  case _: InfluxQLAst.DropMeasurement => ()
                  // admin metadata statements are shape-valid post-parse;
                  // existence errors (duplicate CQ, missing RP) surface
                  // per-statement like InfluxDB's
                  case _: InfluxQLAst.CreateDatabase | _: InfluxQLAst.DropDatabase |
                       _: InfluxQLAst.CreateCq | _: InfluxQLAst.DropCq |
                       _: InfluxQLAst.CreateRetention | _: InfluxQLAst.AlterRetention |
                       _: InfluxQLAst.DropRetention |
                       _: InfluxQLAst.CreateUser | _: InfluxQLAst.DropUser |
                       _: InfluxQLAst.SetPassword | _: InfluxQLAst.Grant |
                       _: InfluxQLAst.Revoke | _: InfluxQLAst.DropShard |
                       _: InfluxQLAst.CreateSubscription |
                       _: InfluxQLAst.DropSubscription => ()
                  case st => dryPlan(spark, dir, st, nowNs, catalog0())
                }
                // Once execution starts, NOTHING may abort the batch — any
                // failure (e.g. a SELECT on a measurement an earlier
                // statement just dropped) embeds as InfluxDB's per-statement
                // {"statement_id":i,"error":…} and the batch continues, so
                // the 200 response reports exactly what ran.
                val results = sts.zipWithIndex.map {
                  case (st, i) if isMutating(st) =>
                    try {
                      (st: @unchecked) match { // guarded by isMutating
                        case d: InfluxQLAst.Delete =>
                          InfluxQLPlanner.delete(spark, d, store, nowNs)
                        case s: InfluxQLAst.DropSeries =>
                          InfluxQLPlanner.dropSeries(spark, s, store)
                        case m: InfluxQLAst.DropMeasurement =>
                          InfluxQLPlanner.dropMeasurement(m, store)
                        case c: InfluxQLAst.CreateDatabase =>
                          StoreMeta.createDatabase(store, c)
                        case d: InfluxQLAst.DropDatabase =>
                          StoreMeta.dropDatabase(store, d.name)
                        case c: InfluxQLAst.CreateCq =>
                          StoreMeta.createCq(store, c)
                        case d: InfluxQLAst.DropCq =>
                          StoreMeta.dropCq(store, d.name, d.db)
                        case r: InfluxQLAst.CreateRetention =>
                          StoreMeta.createRp(store, r)
                        case a: InfluxQLAst.AlterRetention =>
                          StoreMeta.alterRp(store, a)
                        case d: InfluxQLAst.DropRetention =>
                          StoreMeta.dropRp(store, d.name, d.db)
                        case c: InfluxQLAst.CreateUser =>
                          StoreMeta.createUser(store, c)
                        case d: InfluxQLAst.DropUser =>
                          StoreMeta.dropUser(store, d.name)
                        case s: InfluxQLAst.SetPassword =>
                          StoreMeta.setPassword(store, s.name, s.password)
                        case g: InfluxQLAst.Grant =>
                          StoreMeta.grant(store, g)
                        case r: InfluxQLAst.Revoke =>
                          StoreMeta.revoke(store, r)
                        case ds: InfluxQLAst.DropShard =>
                          InfluxQLPlanner.dropShard(ds, store): Unit
                        case c: InfluxQLAst.CreateSubscription =>
                          StoreMeta.createSub(store, c)
                        case d: InfluxQLAst.DropSubscription =>
                          StoreMeta.dropSub(store, d.name, d.db, d.rp)
                      }
                      s"""{"statement_id":$i}""" // InfluxDB's empty mutation result
                    } catch {
                      case scala.util.control.NonFatal(e) =>
                        InfluxQLResult.statementErrorJson(i, String.valueOf(e.getMessage))
                    }
                  case (st, i) =>
                    // re-resolve the catalog: a SHOW/SELECT after a DROP
                    // in the same batch must see the mutated store
                    try InfluxQLResult.renderStatement(spark, dir, st, i, nowNs,
                      catalog0(), maxRows, epoch)
                    catch {
                      case scala.util.control.NonFatal(e) =>
                        InfluxQLResult.statementErrorJson(i, String.valueOf(e.getMessage))
                    }
                }
                s"""{"results":[${results.mkString(",")}]}"""
              } finally lock.writeLock.unlock()
              // socket write OUTSIDE the lock — a slow-draining client
              // must not hold the store exclusive
              if (wantCsv) respondCsv(ex, jsonToCsv(respBody))
              else respond(ex, 200, if (pretty) prettify(respBody) else respBody)
          }
          else if (params.get("chunked").contains("true")) {
            // InfluxDB 1.x chunked transfer: newline-delimited result docs,
            // driver memory bounded by chunk_size regardless of result size.
            val size = params.get("chunk_size").flatMap(_.toIntOption)
              .filter(_ > 0).getOrElse(InfluxQLResult.DefaultMaxRows)
            // read-locked for the whole stream: a DROP/DELETE must not pull
            // partition directories out from under the lazy scan. Known
            // fairness interaction: while a writer queues behind a slow
            // export, NEW read requests queue too (fair lock) — acceptable
            // for this admin surface; a snapshot/lease layout is the scale
            // path if exports must never gate mutations
            // tracked for SHOW QUERIES / KILL QUERY: the whole streamed
            // request runs under one qid's job group (InfluxDB assigns a
            // qid per statement; one per request is the same kill
            // granularity for the one-statement queries dashboards send)
            lock.readLock.lock()
            try InfluxQLQueries.track(spark, q, db, clock) {
              val chunks = InfluxQLResult.renderChunks(spark, dir, sts, nowNs, catalog, size, epoch0)
              // force the first statement's plan before headers go out: parse
              // and analysis errors still return a clean 400 (later statements
              // can only fail mid-stream — InfluxDB's chunked mode has the
              // same property)
              val _ = chunks.hasNext
              ex.getResponseHeaders.set("Content-Type", "application/json")
              ex.getResponseHeaders.set("X-Influxdb-Version", "1.7-graft")
              ex.sendResponseHeaders(200, 0) // 0 = chunked transfer encoding
              val os = ex.getResponseBody
              try chunks.foreach { d => os.write((d + "\n").getBytes(StandardCharsets.UTF_8)); os.flush() }
              finally { os.close(); ex.close() }
            } finally lock.readLock.unlock()
          } else {
            lock.readLock.lock()
            val json =
              try InfluxQLQueries.track(spark, q, db, clock) {
                InfluxQLResult.renderAll(spark, dir, sts, nowNs, catalog, maxRows, epoch)
              } finally lock.readLock.unlock()
            if (wantCsv) respondCsv(ex, jsonToCsv(json))
            else respond(ex, 200, if (pretty) prettify(json) else json)
          }
      }
    } catch {
      case e: InfluxQLParseException => respond(ex, 400, errJson(e.getMessage))
      case NonFatal(e)               => respond(ex, 500, errJson(String.valueOf(e.getMessage)))
    }
  }

  /** `Accept: application/csv` (InfluxDB 1.x — the influx CLI's
    * `-format csv` and spreadsheet pulls): the response re-shaped as
    *   name,tags,time,<cols…>
    * one row per value, tags comma-joined `k=v` in one (quoted) field, a
    * header line per statement whose columns differ from the previous
    * one's. Times default to epoch-ns in CSV (InfluxDB's behavior) unless
    * `epoch=` says otherwise. Built by walking the finished (capped) JSON
    * doc — the renderer stays single-format. Statements that embedded an
    * error contribute no CSV rows (like measurements a WHERE empties);
    * top-level errors still return the JSON error shape. Chunked mode
    * keeps its one-JSON-doc-per-line contract regardless of Accept.
    */
  private def jsonToCsv(json: String): String = {
    import scala.jdk.CollectionConverters._
    def field(v: String): String =
      if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    val sb = new StringBuilder
    var lastHeader: String = null
    prettyMapper.readTree(json).path("results").elements().asScala.foreach { res =>
      res.path("series").elements().asScala.foreach { ser =>
        val name = ser.path("name").asText("")
        val tags =
          if (!ser.has("tags")) ""
          else ser.get("tags").properties().asScala
            .map(e => s"${e.getKey}=${e.getValue.asText()}").mkString(",")
        val cols = ser.path("columns").elements().asScala.map(_.asText()).toSeq
        val header = ("name" +: "tags" +: cols).map(field).mkString(",")
        if (header != lastHeader) { sb.append(header).append('\n'); lastHeader = header }
        ser.path("values").elements().asScala.foreach { row =>
          val cells = row.elements().asScala.map { v =>
            if (v.isNull) "" else if (v.isNumber || v.isBoolean) v.asText()
            else field(v.asText())
          }
          sb.append((Iterator(field(name), field(tags)) ++ cells).mkString(","))
          sb.append('\n')
        }
      }
    }
    sb.result()
  }

  /** `pretty=true` (InfluxDB 1.x): re-serialize the response JSON with
    * indentation — a human-with-curl convenience, applied to unchunked
    * 200 bodies only (chunked mode stays one doc per line by contract).
    * ObjectMapper is thread-safe for read/write after configuration.
    */
  private val prettyMapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def prettify(json: String): String =
    prettyMapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(prettyMapper.readTree(json))

  private def errJson(msg: String): String =
    s"""{"error":${quote(msg)}}"""

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'          => sb ++= "\\\""
      case '\\'         => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c            => sb += c
    }
    (sb += '"').result()
  }

  private def parseParams(raw: String): Map[String, String] =
    raw.split('&').toSeq.filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8"))
        case Array(k)    => Some(URLDecoder.decode(k, "UTF-8") -> "")
        case _           => None
      }
    }.toMap

  /** `Accept-Encoding: gzip` (influxdb-python and Telegraf both speak it):
    * successful response bodies compress with `Content-Encoding: gzip`.
    * Error bodies stay plain — tiny, and trivially readable in logs.
    * Chunked mode keeps its uncompressed doc-per-line stream.
    */
  private def maybeGzip(ex: HttpExchange, status: Int, bytes: Array[Byte]): Array[Byte] =
    if (status == 200 && bytes.nonEmpty &&
        Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
          .exists(_.toLowerCase.contains("gzip"))) {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(bytes); gz.close()
      ex.getResponseHeaders.set("Content-Encoding", "gzip")
      bos.toByteArray
    } else bytes

  private def respondCsv(ex: HttpExchange, body: String): Unit = {
    val bytes = maybeGzip(ex, 200, body.getBytes(StandardCharsets.UTF_8))
    ex.getResponseHeaders.set("Content-Type", "application/csv")
    ex.getResponseHeaders.set("X-Influxdb-Version", "1.7-graft")
    ex.sendResponseHeaders(200, if (bytes.length == 0) -1L else bytes.length.toLong)
    if (bytes.nonEmpty) {
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    ex.close()
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = maybeGzip(ex, status, body.getBytes(StandardCharsets.UTF_8))
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.getResponseHeaders.set("X-Influxdb-Version", "1.7-graft")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    ex.close()
  }
}

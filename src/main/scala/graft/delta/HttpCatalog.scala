package graft.delta

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient => JHttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.hadoop.fs.Path

/** Unity-Catalog-shaped JSON-over-HTTP commit-coordination protocol
  * for catalog-managed tables. The wire surface tracks the reference's
  * UC client crates endpoint for endpoint and field for field
  * (unity-catalog-delta-client-api/src/models.rs, credentials.rs;
  * unity-catalog-delta-rest-client/src/clients/uc_client.rs,
  * commits.rs), so re-pointing the client at a real UC workspace is a
  * base-URL + auth configuration change, not a protocol change:
  *
  *   GET  /delta/v1/config?catalog={c}&protocol-versions={csv}
  *     → {"endpoints":[…],"protocol-version":"1.0"}
  *     (session-start handshake; uc_client.rs get_config)
  *
  *   GET  /delta/v1/catalogs/{c}/schemas/{s}/tables/{t}
  *     → {"metadata":{"etag":…,"table-type":…,"table-uuid":…,
  *        "location":…,"created-time":…,"updated-time":…,
  *        "columns":{…},"partition-columns":[…],"properties":{…},
  *        "last-commit-version":N,"last-commit-timestamp-ms":T},
  *        "commits":[{"version":N,"timestamp":T,"file-name":…,
  *          "file-size":S,"file-modification-timestamp":M},…],
  *        "latest-table-version":N|null}
  *     404 {"error-code":"table-not-found",…} for unknown tables
  *     (load_table; models.rs LoadTableResponse/TableMetadata —
  *      unpublished commits newest-first; this server additionally
  *      honors ?max-results/?page-token and emits next-page-token, an
  *      extension a stock client simply never triggers)
  *
  *   GET  /delta/v1/catalogs/{c}/schemas/{s}/tables/{t}/credentials
  *        ?operation=READ|READ_WRITE
  *     → {"storage-credentials":[{"prefix":…,"operation":…,
  *        "expiration-time-ms":N,"config":{…}}]}
  *     (credential vending; uc_client.rs get_table_credentials,
  *      credentials.rs CredentialsResponse)
  *
  *   POST /delta/v1/catalogs/{c}/schemas/{s}/tables/{t}
  *        {"requirements":[{"type":"assert-table-uuid","uuid":…}|
  *                         {"type":"assert-etag","etag":…}],
  *         "updates":[{"action":"add-commit","commit":{…}}|
  *                    {"action":"set-latest-backfilled-version",
  *                     "latest-published-version":N}]}
  *     → 200 (empty) | 409 {"error-code":…,"message":…}
  *     (update_table; models.rs UpdateTableRequest — at most one of
  *      each singleton, commit conflicts are catalog decisions the
  *      transaction layer rebases through, never transport errors;
  *      commits.rs posts exactly once — retries live in the txn layer)
  *
  *   POST /delta/v1/catalogs/{c}/schemas/{s}/tables/{t}/metrics
  *        {"table-id":…,"report":{"commit-report":{…}}}
  *     → 200 (empty)
  *     (best-effort post-commit telemetry; models.rs
  *      ReportMetricsRequest/CommitReport/FileSizeHistogram)
  *
  *   POST /delta/v1/catalogs/{c}/schemas/{s}/staging-tables  {"name":…}
  *     → {"table-id":…,"table-type":"MANAGED","location":…,
  *        "storage-credentials":[…],"required-protocol":{…},
  *        "required-properties":{…},"suggested-properties":{…}}
  *     (CREATE step 1: reserve a UUID + storage location;
  *      models.rs CreateStagingTableRequest/Response)
  *
  *   POST /delta/v1/catalogs/{c}/schemas/{s}/tables
  *        {"name":…,"location":…,"table-type":…,"columns":{…},
  *         "partition-columns":[…],"protocol":{…},"properties":{…},
  *         "last-commit-timestamp-ms":T}
  *     → LoadTableResponse
  *     (CREATE step 3, after the engine wrote version 0: register the
  *      table, promoting the staging reservation; the server derives
  *      protocol properties from the typed `protocol`, so
  *      `delta.minReaderVersion`/`delta.feature.*` must NOT appear in
  *      `properties` — models.rs CreateTableRequest)
  *
  * Path segments are percent-encoded byte-wise (every non-alphanumeric
  * octet), matching the reference's
  * `utf8_percent_encode(name, NON_ALPHANUMERIC)` — table names here
  * are storage paths, and `/` must travel as `%2F` inside the single
  * `{t}` segment. Commits travel by `file-name` only — the staged
  * location is derived as
  * `<table>/_delta_log/_staged_commits/<file-name>` (the protocol's
  * canonical staging directory, reference log_path.rs), so the wire
  * never carries engine-local absolute paths.
  *
  * Data-plane routes (load/update/metrics) require a Bearer token from
  * a vended credential; an expired or unknown token gets 401 and the
  * client transparently re-vends — temporary-credential renewal
  * mid-stream is part of the protocol, not an error path.
  * Control-plane routes (config, credentials, staging-tables, table
  * registration) stand in for workspace-token auth, which a real UC
  * enforces at its gateway.
  *
  * Scale note: the log tail is bounded by publish cadence (publishing
  * shrinks it), so every payload here is small and O(tail), never
  * O(table history).
  */
object HttpCatalogProtocol {
  val BASE = "/delta/v1/"
  val PROTOCOL_VERSION = "1.0"
  /** Property key carrying the UC table id in table configuration
    * (reference delta-kernel-unity-catalog/src/constants.rs).
    */
  val TABLE_ID_KEY = "io.unitycatalog.tableId"

  /** Percent-encode a name as ONE url path segment, byte-wise over its
    * UTF-8 encoding, escaping every non-alphanumeric octet (reference
    * uc_client.rs `encode_segment`: NON_ALPHANUMERIC).
    */
  def encodeSegment(name: String): String = {
    val sb = new StringBuilder
    name.getBytes(UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if (c.isLetterOrDigit && c < 0x80) sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** The per-table resource path shared by load_table, update_table,
    * credentials and metrics (uc_client.rs `table_path`).
    */
  def tablePath(catalog: String, schema: String, table: String): String =
    s"catalogs/${encodeSegment(catalog)}/schemas/${encodeSegment(schema)}" +
      s"/tables/${encodeSegment(table)}"

  /** Deterministic fallback table UUID for tables that were never
    * registered through the CREATE flow (path-created test tables).
    * Registered tables carry their vended random UUID instead.
    */
  def tableUuid(table: String): String =
    java.util.UUID.nameUUIDFromBytes(
      ("graft-uc:" + table).getBytes(UTF_8)).toString

  /** Staged-commit location a wire `file-name` denotes (the canonical
    * `_staged_commits` directory of the table's log).
    */
  def stagedLocation(table: String, fileName: String): Path =
    new Path(new Path(FileNames.logDir(new Path(table)),
      FileNames.STAGED_COMMITS_DIR), fileName)

  /** Server etag: changes whenever the ratified history advances —
    * the optimistic-concurrency handle `assert-etag` checks.
    */
  def etag(maxRatified: Option[Long]): String =
    "v" + maxRatified.map(_.toString).getOrElse("none")

  /** Provider-typed credential config keys for a storage prefix
    * (reference credentials.rs `StorageCredential::config` docs:
    * `s3.access-key-id` / `s3.secret-access-key` / `s3.session-token`
    * for AWS, `azure.sas-token` for ADLS/Blob, `gcs.oauth-token` for
    * GCS; empty for local/file storage). `seed` derives deterministic
    * loopback-only fake secrets — this test catalog never vends real
    * cloud credentials.
    */
  def cloudCredentialConfig(prefix: String,
      seed: String): Map[String, String] = {
    val scheme = prefix.takeWhile(_ != ':').toLowerCase
    def fake(kind: String): String =
      java.util.UUID.nameUUIDFromBytes(
        (kind + ":" + seed).getBytes(UTF_8)).toString.replace("-", "")
    scheme match {
      case "s3" | "s3a" => Map(
        "s3.access-key-id" -> ("ASIA" + fake("ak").take(16).toUpperCase),
        "s3.secret-access-key" -> fake("sk"),
        "s3.session-token" -> fake("st"))
      case "abfs" | "abfss" | "wasb" | "wasbs" => Map(
        "azure.sas-token" -> ("sv=2020-08-04&sig=" + fake("sas")))
      case "gs" => Map("gcs.oauth-token" -> ("ya29." + fake("oa")))
      case _ => Map.empty
    }
  }

  /** Parse one wire `storage-credentials` element into the typed
    * [[StorageCredential]] (reference credentials.rs deserialization:
    * `expiration-time-ms` nullable/absent, `config` a flat string map).
    */
  def parseStorageCredential(
      n: com.fasterxml.jackson.databind.JsonNode): StorageCredential = {
    val cfg = Option(n.get("config")).filterNot(_.isNull).map { c =>
      c.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }.getOrElse(Map.empty[String, String])
    StorageCredential(
      n.get("prefix").asText,
      n.get("operation").asText,
      Option(n.get("expiration-time-ms")).filterNot(_.isNull)
        .map(_.asLong),
      cfg)
  }
}

/** A vended temporary storage credential (reference credentials.rs
  * `StorageCredential`). `config` holds live secrets — `toString`
  * redacts it, mirroring the reference's manual Debug impl.
  */
case class StorageCredential(
    prefix: String,
    operation: String,
    expirationTimeMs: Option[Long],
    config: Map[String, String]) {
  override def toString: String =
    s"StorageCredential($prefix,$operation,$expirationTimeMs," +
      s"<${config.size} redacted entries>)"
}

/** Serves any [[CatalogClient]] over loopback HTTP (JDK built-in
  * `com.sun.net.httpserver`, single-threaded executor — the backing
  * clients are already synchronized/atomic, and one arbitration thread
  * mirrors the transactional serialization point a production catalog
  * provides). Bind port 0 for an ephemeral port; read it from [[port]].
  *
  * `credTtlMs` bounds the lifetime of vended credentials (tests
  * shrink it to force mid-stream renewal). `managedRoot`, when set, is
  * where staging-table reservations allocate storage locations.
  */
class HttpCatalogServer(backing: CatalogClient, bindPort: Int = 0,
    credTtlMs: Long = 3600L * 1000, managedRoot: Option[String] = None) {
  import HttpCatalogProtocol._

  private val mapper = new ObjectMapper()
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", bindPort), 0)
  /** token → expiry epoch-ms; pruned lazily on auth checks. */
  private val tokens = new ConcurrentHashMap[String, Long]()
  /** location → registered TableMetadata (CREATE flow step 3). */
  private val registered = new ConcurrentHashMap[String, ObjectNode]()
  /** table-id → (name, location) staged by `staging-tables`. */
  private val staged = new ConcurrentHashMap[String, (String, String)]()
  /** location → last ReportMetricsRequest body (test observability —
    * telemetry is best-effort and never read back by clients).
    */
  val metricsReports = new ConcurrentHashMap[String, JsonNode]()

  def port: Int = server.getAddress.getPort
  def baseUri: String = s"http://127.0.0.1:$port"
  /** Credentials vended over this server's lifetime (expiry/renewal
    * observability for tests).
    */
  @volatile var credentialsVended: Int = 0

  server.createContext(BASE, (x: HttpExchange) => handle(x))
  server.setExecutor(null) // serve on the dispatcher thread: serialized

  def start(): this.type = { server.start(); this }
  def stop(): Unit = server.stop(0)

  private def handle(x: HttpExchange): Unit = {
    try {
      // RAW path, decoded per segment: a `{t}` segment carries `%2F`s
      // that URI.getPath would prematurely collapse into separators
      // '+' is a literal in a path segment (URLDecoder would map it to
      // a space — it is only an escape in form encoding); shield it
      // before decoding, as Storage.decode does
      val segs = x.getRequestURI.getRawPath.stripPrefix(BASE)
        .split("/", -1).toSeq.filter(_.nonEmpty)
        .map(s => java.net.URLDecoder.decode(
          s.replace("+", "%2B"), UTF_8))
      (x.getRequestMethod, segs) match {
        case ("GET", Seq("config")) => getConfig(x)
        case ("GET", Seq("catalogs", _, "schemas", _, "tables", t,
            "credentials")) => vendCredential(x, t)
        case ("GET", Seq("catalogs", _, "schemas", _, "tables", t)) =>
          if (authed(x)) loadTable(x, t) else unauthorized(x)
        case ("POST", Seq("catalogs", _, "schemas", _, "tables", t)) =>
          if (authed(x)) updateTable(x, t) else unauthorized(x)
        case ("POST", Seq("catalogs", _, "schemas", _, "tables", t,
            "metrics")) =>
          if (authed(x)) reportMetrics(x, t) else unauthorized(x)
        case ("POST", Seq("catalogs", _, "schemas", _,
            "staging-tables")) => createStagingTable(x)
        case ("POST", Seq("catalogs", _, "schemas", _, "tables")) =>
          createTable(x)
        case _ => respond(x, 404, err("not-found", "no such route"))
      }
    } catch {
      // malformed client input is the CLIENT's fault: typed 400, not a
      // generic 500 that reads as a server fault
      case e @ (_: IllegalArgumentException | _: NumberFormatException) =>
        respond(x, 400, err("invalid-argument",
          Option(e.getMessage).getOrElse(e.getClass.getName)))
      case e: Exception =>
        respond(x, 500, err("internal", e.getClass.getName))
    } finally x.close()
  }

  private def unauthorized(x: HttpExchange): Unit =
    respond(x, 401, err("credential-expired",
      "missing, unknown, or expired temporary credential"))

  /** Bearer-token gate: vended, unexpired tokens only. */
  private def authed(x: HttpExchange): Boolean = {
    val h = Option(x.getRequestHeaders.getFirst("Authorization"))
    h.filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer "))
      .exists { t =>
        val exp = tokens.getOrDefault(t, Long.MinValue)
        if (exp < System.currentTimeMillis()) { tokens.remove(t); false }
        else true
      }
  }

  /** Session-start handshake (uc_client.rs get_config): advertise the
    * endpoints this server speaks and the negotiated version.
    */
  private def getConfig(x: HttpExchange): Unit = {
    val params = query(x)
    require(params.contains("catalog"), "missing catalog parameter")
    val resp = mapper.createObjectNode()
    val eps = resp.putArray("endpoints")
    Seq(
      "GET /delta/v1/catalogs/{catalog}/schemas/{schema}/tables/{table}",
      "POST /delta/v1/catalogs/{catalog}/schemas/{schema}/tables/{table}",
      "GET /delta/v1/catalogs/{catalog}/schemas/{schema}/tables/{table}/credentials",
      "POST /delta/v1/catalogs/{catalog}/schemas/{schema}/tables/{table}/metrics",
      "POST /delta/v1/catalogs/{catalog}/schemas/{schema}/staging-tables",
      "POST /delta/v1/catalogs/{catalog}/schemas/{schema}/tables"
    ).foreach(eps.add)
    resp.put("protocol-version", PROTOCOL_VERSION)
    respond(x, 200, mapper.writeValueAsString(resp))
  }

  /** The table's UUID: the one vended at registration, else the one
    * reserved by a staging-tables call for this location (the v0
    * commit of the CREATE flow asserts the vended uuid BEFORE
    * create-table registers — models.rs CreateStagingTableResponse),
    * else the deterministic fallback for path-created tables.
    */
  private def uuidOf(table: String): String = {
    import scala.jdk.CollectionConverters._
    Option(registered.get(table)).map(_.get("table-uuid").asText)
      .orElse(staged.asScala.collectFirst {
        case (id, (_, loc)) if loc == table => id
      })
      .getOrElse(tableUuid(table))
  }

  /** Temporary-credential vending (uc_client.rs
    * get_table_credentials): GET with `?operation=`, returning a fresh
    * token scoped to the table's storage prefix with an absolute
    * expiry.
    */
  private def vendCredential(x: HttpExchange, table: String): Unit = {
    val op = query(x).getOrElse("operation", "READ")
    require(op == "READ" || op == "READ_WRITE", s"bad operation $op")
    val resp = mapper.createObjectNode()
    resp.putArray("storage-credentials").add(newCredential(table, op))
    respond(x, 200, mapper.writeValueAsString(resp))
  }

  private def newCredential(prefix: String, op: String): ObjectNode = {
    val token = java.util.UUID.randomUUID().toString
    val now = System.currentTimeMillis()
    // prune EVERY expired token here — under transparent renewal a
    // stale token is never re-presented, so auth-time pruning alone
    // would leak one map entry per renewal forever
    tokens.entrySet().removeIf(e => e.getValue < now)
    val expiry = now + credTtlMs
    tokens.put(token, expiry)
    credentialsVended += 1
    val cred = mapper.createObjectNode()
    cred.put("prefix", prefix + "/")
    cred.put("operation", op)
    cred.put("expiration-time-ms", expiry)
    // provider-typed config keys for the table's storage scheme
    // (credentials.rs config conventions), plus the loopback bearer
    // token this test server's data-plane auth actually checks
    val cfg = cred.putObject("config")
    HttpCatalogProtocol.cloudCredentialConfig(prefix, token)
      .foreach { case (k, v) => cfg.put(k, v) }
    cfg.put("token", token)
    cred
  }

  /** Best-effort stat of a staged commit file for the wire's
    * file-size/file-modification-timestamp (models.rs Commit carries
    * real values; zeros when the file is unreachable from here).
    */
  private def statCommit(location: Path): (Long, Long) =
    try {
      val st = Storage.fs(location,
        new org.apache.hadoop.conf.Configuration()).getFileStatus(location)
      (st.getLen, st.getModificationTime)
    } catch { case _: Exception => (0L, 0L) }

  /** load_table (models.rs LoadTableResponse): full typed metadata +
    * unpublished commits newest-first; 404 for a table the catalog has
    * never seen (uc_client.rs maps it to TableNotFound).
    */
  private def loadTable(x: HttpExchange, table: String): Unit = {
    val params = query(x)
    val maxResults = params.get("max-results").map(_.toInt).getOrElse(1000)
    require(maxResults > 0, "max-results must be positive")
    val before: Option[Long] = params.get("page-token").map(_.toLong)

    val maxRatified = backing.maxRatifiedVersion(table)
    val reg = Option(registered.get(table))
    if (maxRatified.isEmpty && reg.isEmpty) {
      respond(x, 404, err("table-not-found", s"no such table: $table"))
      return
    }
    // newest-first, as the reference's LoadTableResponse documents
    // (the CatalogClient contract returns the tail ascending)
    val tail = backing.logTail(table).reverse
    val window = before.map(b => tail.filter(_.version < b)).getOrElse(tail)
    val page = window.take(maxResults)

    val resp = mapper.createObjectNode()
    val meta = resp.putObject("metadata")
    meta.put("etag", etag(maxRatified))
    meta.put("table-type",
      reg.map(_.get("table-type").asText).getOrElse("MANAGED"))
    meta.put("table-uuid", uuidOf(table))
    meta.put("location", table)
    meta.put("created-time",
      reg.map(_.get("created-time").asLong).getOrElse(0L))
    meta.put("updated-time",
      reg.map(_.get("updated-time").asLong).getOrElse(0L))
    reg.map(_.get("columns")) match {
      case Some(c) => meta.set[ObjectNode]("columns", c)
      case None => // schema unknown to a path-created catalog entry:
        // an empty Delta StructType, still shape-valid for clients
        meta.putObject("columns").put("type", "struct")
          .putArray("fields")
    }
    val parts = meta.putArray("partition-columns")
    reg.map(_.get("partition-columns")).foreach { pc =>
      (0 until pc.size).foreach(i => parts.add(pc.get(i)))
    }
    reg.map(_.get("properties")) match {
      case Some(p) => meta.set[ObjectNode]("properties", p)
      case None => meta.putObject("properties")
    }
    reg.foreach { r =>
      meta.put("last-commit-version", r.get("last-commit-version").asLong)
      meta.put("last-commit-timestamp-ms",
        r.get("last-commit-timestamp-ms").asLong)
    }
    val commits = resp.putArray("commits")
    page.foreach { c =>
      val (size, mtime) = statCommit(c.location)
      val n = commits.addObject()
      n.put("version", c.version)
      n.put("timestamp", mtime)
      n.put("file-name", c.location.getName)
      n.put("file-size", size)
      n.put("file-modification-timestamp", mtime)
    }
    maxRatified match {
      case Some(v) => resp.put("latest-table-version", v)
      case None => resp.putNull("latest-table-version")
    }
    if (window.size > maxResults)
      resp.put("next-page-token", page.last.version.toString)
    respond(x, 200, mapper.writeValueAsString(resp))
  }

  /** update_table (models.rs UpdateTableRequest): validate the
    * singleton rules and requirements, then apply updates atomically
    * in order; 200 with an EMPTY body on success (commits.rs
    * handle_empty_response). Commit-version conflicts and failed
    * requirements are 409s — catalog decisions, not transport errors.
    */
  private def updateTable(x: HttpExchange, table: String): Unit = {
    val node = mapper.readTree(body(x))
    val reqs = arr(node, "requirements")
    val updates = arr(node, "updates")

    // singleton rules (models.rs UpdateTableRequest::new)
    def countT(ns: Seq[JsonNode], field: String, v: String) =
      ns.count(n => Option(n.get(field)).exists(_.asText == v))
    if (countT(reqs, "type", "assert-table-uuid") > 1 ||
        countT(reqs, "type", "assert-etag") > 1 ||
        countT(updates, "action", "add-commit") > 1 ||
        countT(updates, "action", "set-latest-backfilled-version") > 1) {
      respond(x, 400, err("bad-request",
        "at most one of each requirement/update type per request"))
      return
    }

    // requirements first: all must hold before any update applies
    for (r <- reqs) r.get("type").asText match {
      case "assert-table-uuid" =>
        if (r.get("uuid").asText != uuidOf(table)) {
          respond(x, 409, err("requirement-failed",
            "table uuid mismatch: table was dropped or recreated"))
          return
        }
      case "assert-etag" =>
        if (r.get("etag").asText != etag(backing.maxRatifiedVersion(table))) {
          respond(x, 409, err("requirement-failed", "etag mismatch"))
          return
        }
      case other =>
        respond(x, 400, err("bad-request", s"unknown requirement $other"))
        return
    }

    // pre-validate the WHOLE batch before applying anything: a 409 on
    // a later update must not leave an earlier one permanently applied
    // (the singleton rules above make this a closed set of cases)
    val unknown = updates.map(_.get("action").asText).find(a =>
      a != "add-commit" && a != "set-latest-backfilled-version")
    unknown.foreach { other =>
      respond(x, 400, err("bad-request", s"unknown update $other"))
      return
    }
    val addCommitU = updates.find(_.get("action").asText == "add-commit")
    updates.find(_.get("action").asText == "set-latest-backfilled-version")
      .foreach { u =>
        val upTo = u.get("latest-published-version").asLong
        // valid iff upTo will be ratified AFTER this request's own
        // add-commit (if any) lands — mirrors markPublished's guard
        val maxAfter = math.max(
          backing.maxRatifiedVersion(table).getOrElse(-1L),
          addCommitU.map(_.get("commit").get("version").asLong)
            .getOrElse(-1L))
        if (upTo > maxAfter) {
          respond(x, 409, err("invalid-backfill",
            s"cannot mark unratified version $upTo published"))
          return
        }
      }

    for (u <- updates) u.get("action").asText match {
      case "add-commit" =>
        val c = u.get("commit")
        val version = c.get("version").asLong
        val fileName = c.get("file-name").asText
        val ok = backing.ratify(table,
          CatalogCommit(version, stagedLocation(table, fileName)))
        if (!ok) {
          respond(x, 409, err("commit-version-conflict",
            s"version $version is already ratified or out of order"))
          return
        }
        Option(registered.get(table)).foreach(
          _.put("updated-time", System.currentTimeMillis()))
      case "set-latest-backfilled-version" =>
        val upTo = u.get("latest-published-version").asLong
        try backing.markPublished(table, upTo)
        catch { case e: IllegalArgumentException =>
          respond(x, 409, err("invalid-backfill", e.getMessage))
          return
        }
      case _ => () // validated above
    }
    respondEmpty(x, 200)
  }

  /** reportMetrics (models.rs ReportMetricsRequest): best-effort
    * post-commit telemetry; `table-id` must match the URL's table.
    * 200 with an empty body — a client never reads telemetry back.
    */
  private def reportMetrics(x: HttpExchange, table: String): Unit = {
    val node = mapper.readTree(body(x))
    val tid = Option(node.get("table-id")).map(_.asText).getOrElse("")
    if (tid != uuidOf(table)) {
      respond(x, 400, err("bad-request",
        "table-id does not match the table identified by the URL"))
      return
    }
    metricsReports.put(table, node)
    respondEmpty(x, 200)
  }

  /** CREATE step 1 (models.rs CreateStagingTableRequest/Response):
    * reserve a table UUID and storage location, vend initial
    * credentials, and advertise the protocol/properties the version-0
    * commit must carry.
    */
  private def createStagingTable(x: HttpExchange): Unit = {
    val node = mapper.readTree(body(x))
    val name = Option(node.get("name")).map(_.asText)
      .getOrElse(throw new IllegalArgumentException("missing name"))
    val root = managedRoot.getOrElse(
      throw new IllegalArgumentException(
        "this catalog has no managed storage root configured"))
    val id = java.util.UUID.randomUUID().toString
    val location = s"$root/$id"
    staged.put(id, (name, location))

    val resp = mapper.createObjectNode()
    resp.put("table-id", id)
    resp.put("table-type", "MANAGED")
    resp.put("location", location)
    resp.putArray("storage-credentials")
      .add(newCredential(location, "READ_WRITE"))
    val proto = resp.putObject("required-protocol")
    proto.put("min-reader-version", 3)
    proto.put("min-writer-version", 7)
    val rf = proto.putArray("reader-features")
    Seq(CatalogManaged.FEATURE, "vacuumProtocolCheck").foreach(rf.add)
    val wf = proto.putArray("writer-features")
    Seq(CatalogManaged.FEATURE, "vacuumProtocolCheck",
      "inCommitTimestamp").foreach(wf.add)
    val reqProps = resp.putObject("required-properties")
    reqProps.put(TABLE_ID_KEY, id)
    reqProps.put("delta.enableInCommitTimestamps", "true")
    resp.putObject("suggested-properties")
    respond(x, 200, mapper.writeValueAsString(resp))
  }

  /** CREATE step 3 (models.rs CreateTableRequest): register the table
    * after its version-0 commit, promoting the staging reservation.
    * Protocol properties are derived from the typed `protocol` and
    * must not appear in `properties`. Returns LoadTableResponse.
    */
  private def createTable(x: HttpExchange): Unit = {
    val node = mapper.readTree(body(x))
    def req(field: String): JsonNode = Option(node.get(field)).getOrElse(
      throw new IllegalArgumentException(s"missing $field"))
    val location = req("location").asText
    val props = req("properties")
    val badKeys = props.fieldNames().asScala
      .filter(k => k == "delta.minReaderVersion" ||
        k == "delta.minWriterVersion" || k.startsWith("delta.feature."))
      .toSeq
    if (badKeys.nonEmpty) {
      respond(x, 400, err("bad-request",
        s"protocol properties are derived from `protocol`, not " +
          s"`properties`: ${badKeys.mkString(", ")}"))
      return
    }
    // promote the matching staging reservation (by location) when one
    // exists; a direct EXTERNAL registration is also legal
    val stagedId = staged.entrySet().asScala
      .find(_.getValue._2 == location).map(_.getKey)
    stagedId.foreach(staged.remove)
    val uuid = stagedId.getOrElse(tableUuid(location))

    val now = System.currentTimeMillis()
    val reg = mapper.createObjectNode()
    reg.put("table-uuid", uuid)
    reg.put("table-type", req("table-type").asText)
    reg.put("created-time", now)
    reg.put("updated-time", now)
    reg.set[ObjectNode]("columns", req("columns"))
    reg.set[ObjectNode]("partition-columns",
      Option(node.get("partition-columns"))
        .getOrElse(mapper.createArrayNode()))
    reg.set[ObjectNode]("properties", props)
    reg.put("last-commit-version", 0L)
    reg.put("last-commit-timestamp-ms",
      req("last-commit-timestamp-ms").asLong)
    registered.put(location, reg)
    loadTable(x, location)
  }

  private def arr(node: JsonNode, field: String): Seq[JsonNode] = {
    val a = node.get(field)
    if (a == null || !a.isArray) Nil
    else (0 until a.size).map(a.get)
  }

  private def query(x: HttpExchange): Map[String, String] =
    Option(x.getRequestURI.getQuery).map(_.split("&").toSeq
      .flatMap(_.split("=", 2) match {
        // clients percent-encode via encodeSegment, where '+' is a
        // literal — shield it from URLDecoder's form-encoding rule
        case Array(k, v) => Some(k ->
          java.net.URLDecoder.decode(v.replace("+", "%2B"), UTF_8))
        case _ => None
      }).toMap).getOrElse(Map.empty)

  private def err(code: String, message: String): String = {
    val n = mapper.createObjectNode()
    n.put("error-code", code)
    n.put("message", message)
    mapper.writeValueAsString(n)
  }

  private def body(x: HttpExchange): String =
    new String(x.getRequestBody.readAllBytes(), UTF_8)

  private def respond(x: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length)
    x.getResponseBody.write(bytes)
  }

  /** 200-with-no-body responses (update_table, reportMetrics — the
    * reference client's handle_empty_response).
    */
  private def respondEmpty(x: HttpExchange, code: Int): Unit =
    x.sendResponseHeaders(code, -1)
}

/** [[CatalogClient]] over the UC wire: every catalog decision crosses
  * a real serialization boundary, so nothing in the commit path can
  * lean on shared process memory. Plugs into [[CatalogCommitter]] and
  * `DeltaTable.forPath(spark, dir, client)` unchanged — the write/read
  * paths cannot tell a remote catalog from a local one, which is the
  * abstraction the reference's `UpdateTableClient` trait pins.
  *
  * `catalogName`/`schemaName` route the three-part identifier; the
  * table segment is the storage path, percent-encoded. `tableId`, when
  * supplied (from the CREATE flow's staging response), is asserted as
  * `assert-table-uuid` on every update, exactly as the reference's
  * UCCommitter does (delta-kernel-unity-catalog/src/committer.rs).
  *
  * Credential lifecycle: the client vends a temporary credential
  * before its first call, renews proactively at expiry, and renews
  * reactively on a 401 — a long-running stream crosses credential
  * expirations without surfacing them to the caller.
  *
  * `pageSize` caps commits per load_table page; [[logTail]] follows
  * `next-page-token` until the tail is complete (absent against a
  * stock UC, which sends the whole tail in one response).
  *
  * `workspaceToken`, when set, switches the client to REAL-UC auth:
  * every request (config, credentials, data plane) carries
  * `Authorization: Bearer <workspaceToken>` — the reference client's
  * default-header PAT (unity-catalog-delta-rest-client/src/http.rs) —
  * and vended storage credentials are kept fresh for the STORAGE
  * layer only (proactive re-vend at `expiration-time-ms`), never used
  * as catalog auth. A 401 is then a workspace-auth failure and is NOT
  * retried by re-vending (a storage credential can't fix it). Without
  * it, the client runs in loopback-test mode, where the vended
  * credential's `config.token` doubles as the data-plane bearer so
  * tests can exercise expiry/renewal against [[HttpCatalogServer]].
  */
class HttpCatalogClient(base: String, pageSize: Int = 1000,
    catalogName: String = "main", schemaName: String = "default",
    tableId: Option[String] = None,
    workspaceToken: Option[String] = None)
    extends CatalogClient {
  import HttpCatalogProtocol._

  private val mapper = new ObjectMapper()
  // bounded waits: a wedged catalog must surface as an ERROR the
  // transaction layer can retry, never an indefinitely hung commit
  private val http = JHttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()
  private val requestTimeout = java.time.Duration.ofSeconds(60)

  /** (token, expiryMs) of the current temporary credential. */
  @volatile private var cred: Option[(String, Long)] = None
  /** The last fully-typed vended credential (prefix, operation,
    * expiry, provider config) — the reference client's
    * `CredentialsResponse` surface; `toString` redacts the config.
    */
  @volatile var lastCredential: Option[StorageCredential] = None
  /** How many credentials this client has vended (tests assert
    * mid-stream renewal happened).
    */
  @volatile var credentialRenewals: Int = 0

  private def tableUri(table: String, suffix: String): URI =
    URI.create(s"$base$BASE${tablePath(catalogName, schemaName, table)}" +
      suffix)

  /** A 409 payload, surfaced as a typed outcome, never an exception
    * for commit conflicts.
    */
  private case class Conflict(code: String, message: String)
    extends RuntimeException(message)
  /** load_table's 404 (uc_client.rs TableNotFound). */
  private case class TableNotFound(table: String)
    extends RuntimeException(table)

  /** Session-start handshake: the endpoints the server speaks plus the
    * negotiated protocol version (uc_client.rs get_config).
    */
  def getConfig(): (Seq[String], String) = {
    val uri = URI.create(s"$base${BASE}config?catalog=" +
      encodeSegment(catalogName) + "&protocol-versions=1.0")
    val resp = http.send(workspaceAuth(HttpRequest.newBuilder(uri)
      .timeout(requestTimeout)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode == 200,
      s"config handshake failed: HTTP ${resp.statusCode}: ${resp.body}")
    val node = mapper.readTree(resp.body)
    val eps = node.get("endpoints")
    ((0 until eps.size).map(eps.get(_).asText),
      node.get("protocol-version").asText)
  }

  private def vend(table: String): (String, Long) = {
    // GET with ?operation=, as uc_client.rs get_table_credentials
    val req = workspaceAuth(HttpRequest.newBuilder(
      tableUri(table, "/credentials?operation=READ_WRITE"))
      .timeout(requestTimeout)).GET().build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode == 200,
      s"credential vending failed: HTTP ${resp.statusCode}: ${resp.body}")
    val c = mapper.readTree(resp.body).get("storage-credentials").get(0)
    val typed = HttpCatalogProtocol.parseStorageCredential(c)
    lastCredential = Some(typed)
    // catalog-auth token: the workspace PAT against a real UC (vended
    // credentials are object-store secrets there, not catalog auth);
    // the loopback test server's `config.token` extension otherwise
    val token = workspaceToken.getOrElse(typed.config.getOrElse("token",
      throw new IllegalStateException(
        "vended credential carries no loopback token")))
    val expiry = typed.expirationTimeMs.getOrElse(Long.MaxValue)
    credentialRenewals += 1
    val v = (token, expiry)
    cred = Some(v)
    v
  }

  private def currentToken(table: String): String = cred match {
    case Some((t, exp)) if exp > System.currentTimeMillis() => t
    case _ => vend(table)._1
  }

  /** Workspace-PAT header for control-plane requests that bypass
    * [[send]] (config, credential vending, create flows) — a real UC
    * gateway authenticates every route (http.rs default headers).
    */
  private def workspaceAuth(
      b: HttpRequest.Builder): HttpRequest.Builder =
    workspaceToken.fold(b)(t => b.header("Authorization", s"Bearer $t"))

  /** Send with auth; on 401 renew the credential once and retry —
    * expiry mid-stream is a normal protocol event. Under a workspace
    * token the retry is skipped: re-vending storage credentials cannot
    * repair catalog auth, so the 401 surfaces as an error below.
    */
  private def send(table: String,
      build: String => HttpRequest): String = {
    def once(token: String): HttpResponse[String] =
      http.send(build(token), HttpResponse.BodyHandlers.ofString())
    var resp = once(currentToken(table))
    if (resp.statusCode == 401 && workspaceToken.isEmpty)
      resp = once(vend(table)._1)
    if (resp.statusCode == 404) throw TableNotFound(table)
    if (resp.statusCode == 409) {
      val n = mapper.readTree(resp.body)
      throw Conflict(n.get("error-code").asText, n.get("message").asText)
    }
    require(resp.statusCode == 200,
      s"catalog HTTP ${resp.statusCode}: ${resp.body}")
    resp.body
  }

  private def get(table: String, queryString: String): String =
    send(table, token => HttpRequest.newBuilder(
      tableUri(table, queryString))
      .timeout(requestTimeout)
      .header("Authorization", s"Bearer $token")
      .GET().build())

  private def post(table: String, suffix: String, json: String): String =
    send(table, token => HttpRequest.newBuilder(tableUri(table, suffix))
      .timeout(requestTimeout)
      .header("Authorization", s"Bearer $token")
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json, UTF_8)).build())

  /** Raw load_table body for metadata access (columns, properties,
    * table-uuid), beyond what the [[CatalogClient]] contract needs.
    */
  def loadTable(table: String): JsonNode =
    mapper.readTree(get(table, ""))

  override def maxRatifiedVersion(table: String): Option[Long] =
    try {
      val node = mapper.readTree(get(table, "?max-results=1"))
        .get("latest-table-version")
      if (node == null || node.isNull) None else Some(node.asLong)
    } catch { case TableNotFound(_) => None }

  /** Page through load_table until the unpublished tail is complete;
    * returned ascending as [[CatalogClient]] specifies.
    */
  override def logTail(table: String): Seq[CatalogCommit] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[CatalogCommit]
    var pageToken: Option[String] = None
    var more = true
    try {
      while (more) {
        val q = s"?max-results=$pageSize" +
          pageToken.map(t => s"&page-token=$t").getOrElse("")
        val node = mapper.readTree(get(table, q))
        val arr = node.get("commits")
        (0 until arr.size).foreach { i =>
          val c = arr.get(i)
          out += CatalogCommit(c.get("version").asLong,
            stagedLocation(table, c.get("file-name").asText))
        }
        val next = node.get("next-page-token")
        if (next == null || next.isNull) more = false
        else pageToken = Some(next.asText)
      }
    } catch { case TableNotFound(_) => return Nil }
    out.sortBy(_.version).toSeq
  }

  override def ratify(table: String, commit: CatalogCommit): Boolean = {
    // real file size/mtime when the staged file is reachable — the
    // reference HEADs the staged commit before building the request
    val (size, mtime) = try {
      val st = Storage.fs(commit.location,
        new org.apache.hadoop.conf.Configuration())
        .getFileStatus(commit.location)
      (st.getLen, st.getModificationTime)
    } catch { case _: Exception => (0L, 0L) }
    val c = mapper.createObjectNode()
    c.put("version", commit.version)
    c.put("timestamp", System.currentTimeMillis())
    c.put("file-name", commit.location.getName)
    c.put("file-size", size)
    c.put("file-modification-timestamp", mtime)
    val u = mapper.createObjectNode()
    u.put("action", "add-commit")
    u.set[ObjectNode]("commit", c)
    val req = mapper.createObjectNode()
    val reqs = req.putArray("requirements")
    tableId.foreach { id =>
      val r = reqs.addObject()
      r.put("type", "assert-table-uuid")
      r.put("uuid", id)
    }
    req.putArray("updates").add(u)
    try { post(table, "", mapper.writeValueAsString(req)); true }
    catch {
      case Conflict("commit-version-conflict", _) => false
    }
  }

  override def markPublished(table: String, upTo: Long): Unit = {
    val u = mapper.createObjectNode()
    u.put("action", "set-latest-backfilled-version")
    u.put("latest-published-version", upTo)
    val req = mapper.createObjectNode()
    req.putArray("requirements")
    req.putArray("updates").add(u)
    try { post(table, "", mapper.writeValueAsString(req)); () }
    catch {
      case Conflict(_, message) =>
        throw new IllegalArgumentException(message)
    }
  }

  /** CREATE step 1: reserve a staging table (uc_client.rs
    * create_staging_table) — returns the raw response (table-id,
    * location, credentials, required protocol/properties).
    */
  def createStagingTable(name: String): JsonNode = {
    val uri = URI.create(s"$base${BASE}catalogs/" +
      s"${encodeSegment(catalogName)}/schemas/" +
      s"${encodeSegment(schemaName)}/staging-tables")
    val bodyNode = mapper.createObjectNode()
    bodyNode.put("name", name)
    val resp = http.send(workspaceAuth(HttpRequest.newBuilder(uri)
      .timeout(requestTimeout))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(
        mapper.writeValueAsString(bodyNode), UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode == 200,
      s"create_staging_table failed: HTTP ${resp.statusCode}: ${resp.body}")
    mapper.readTree(resp.body)
  }

  /** CREATE step 3: register the table after its version-0 commit
    * (uc_client.rs create_table). Returns the LoadTableResponse.
    */
  def createTable(request: ObjectNode): JsonNode = {
    val uri = URI.create(s"$base${BASE}catalogs/" +
      s"${encodeSegment(catalogName)}/schemas/" +
      s"${encodeSegment(schemaName)}/tables")
    val resp = http.send(workspaceAuth(HttpRequest.newBuilder(uri)
      .timeout(requestTimeout))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(
        mapper.writeValueAsString(request), UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode == 200,
      s"create_table failed: HTTP ${resp.statusCode}: ${resp.body}")
    mapper.readTree(resp.body)
  }

  /** Best-effort post-commit telemetry (uc_client.rs report_metrics).
    * Never throws on conflict — telemetry must not fail a commit.
    */
  def reportMetrics(table: String, tableIdValue: String,
      commitReport: ObjectNode): Unit = {
    val req = mapper.createObjectNode()
    req.put("table-id", tableIdValue)
    req.putObject("report").set[ObjectNode]("commit-report", commitReport)
    post(table, "/metrics", mapper.writeValueAsString(req))
    ()
  }
}

/** Standalone catalog-server process: serves a [[FileCatalog]] rooted
  * at `args(0)` over loopback HTTP and prints `PORT=<n>` once bound —
  * lets a test (or a second engine) coordinate commits with a catalog
  * living in a DIFFERENT JVM, completing the process separation the
  * directory catalog alone only simulates. `args(1)`, when present,
  * overrides the credential TTL in ms.
  */
object HttpCatalogServerMain {
  def main(args: Array[String]): Unit = {
    val dir = new Path(args(0))
    val ttl = if (args.length > 1) args(1).toLong else 3600L * 1000
    val fs = Storage.fs(dir, new org.apache.hadoop.conf.Configuration())
    val server =
      new HttpCatalogServer(new FileCatalog(fs, dir), 0, ttl).start()
    // handshake line the launcher waits for
    println(s"PORT=${server.port}")
    Console.flush()
    Thread.currentThread.join() // serve until killed
  }
}

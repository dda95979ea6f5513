package graft.delta

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Catalog-managed commits coordinated across a REAL process boundary
  * (reference: unity-catalog-delta-rest-client — the engine talks to
  * its commit authority over HTTP; version conflicts are catalog
  * decisions, transport errors are not conflicts). Covers the in-JVM
  * wire (client+server over loopback, state only reachable through
  * HTTP) and a second-JVM server (nothing shared but the socket).
  */
class HttpCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def src(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, s"v$i")).toDF("k", "s")

  private def fs(dir: String) = Storage.fs(new Path(dir),
    spark.sessionState.newHadoopConf())

  private def publishedCommits(dir: String): Seq[Long] =
    Storage.listSorted(fs(dir), FileNames.logDir(new Path(dir)))
      .flatMap(st => FileNames.parse(st))
      .collect { case c: FileNames.CommitFile => c.version }

  private def withServer(catDir: String, credTtlMs: Long = 3600L * 1000)
      (f: HttpCatalogServer => Unit): Unit = {
    val server = new HttpCatalogServer(
      new FileCatalog(fs(catDir), new Path(catDir)), 0, credTtlMs).start()
    try f(server) finally server.stop()
  }

  test("HTTP catalog: create/append/read/publish round trip, all " +
      "coordination over the wire") {
    val dir = TestSpark.tmpDir("http-cat")
    val catDir = TestSpark.tmpDir("http-cat-store")
    withServer(catDir) { server =>
      val cat = new HttpCatalogClient(server.baseUri)
      DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
      val t = DeltaTable.forPath(spark, dir, cat)
      t.append(src(1, 10))   // v1
      t.append(src(11, 20))  // v2

      assert(publishedCommits(dir).isEmpty)
      assert(cat.maxRatifiedVersion(dir).contains(2L))
      assert(cat.logTail(dir).map(_.version) == Seq(0L, 1L, 2L))
      assert(t.toDF.select("k").as[Long].collect().toSet ==
        (1L to 20L).toSet)

      // an independent client against the same server converges
      val cat2 = new HttpCatalogClient(server.baseUri)
      val t2 = DeltaTable.forPath(spark, dir, cat2)
      assert(t2.toDF.count() == 20)
      assert(t2.snapshot(Some(1L)).toDF.count() == 10)

      // partial publish through one client is visible through the other
      assert(t.publish(Some(1L)) == 1L)
      assert(publishedCommits(dir) == Seq(0L, 1L))
      assert(cat2.logTail(dir).map(_.version) == Seq(2L))
      assert(t2.toDF.count() == 20)

      // publish-past-ratified surfaces the catalog's 409 as the same
      // IllegalArgumentException the local clients throw
      val e = intercept[IllegalArgumentException] {
        cat.markPublished(dir, 99L)
      }
      assert(e.getMessage.contains("unratified"))
    }
  }

  test("UC wire: paginated log tail — client pages through " +
      "next-page-token and reassembles the full ascending tail") {
    val dir = TestSpark.tmpDir("http-page")
    val catDir = TestSpark.tmpDir("http-page-store")
    withServer(catDir) { server =>
      // writer ratifies 7 commits through a default-page-size client
      val writer = new HttpCatalogClient(server.baseUri)
      DeltaTable.create(spark, dir, src(1, 1).schema,
        catalog = Some(writer))
      val t = DeltaTable.forPath(spark, dir, writer)
      (1 to 6).foreach(i => t.append(src(i * 10, i * 10 + 4)))
      assert(writer.maxRatifiedVersion(dir).contains(6L))

      // a page-size-2 reader must follow 4 pages (7 commits, newest
      // first: [6,5],[4,3],[2,1],[0]) and still reassemble the tail
      val pagedReader = new HttpCatalogClient(server.baseUri, pageSize = 2)
      val tail = pagedReader.logTail(dir)
      assert(tail.map(_.version) == (0L to 6L))
      // locations resolve to the canonical staged-commits dir
      assert(tail.forall(_.location.toString.contains(
        FileNames.STAGED_COMMITS_DIR)))
      // and a snapshot through the paginated client reads everything
      val tPaged = DeltaTable.forPath(spark, dir, pagedReader)
      assert(tPaged.toDF.count() == 30)

      // publishing shrinks what pagination has to cover
      assert(t.publish(Some(4L)) == 4L)
      assert(pagedReader.logTail(dir).map(_.version) == Seq(5L, 6L))
    }
  }

  test("UC wire: temporary credential expires mid-stream; client " +
      "renews transparently and work completes") {
    val dir = TestSpark.tmpDir("http-cred")
    val catDir = TestSpark.tmpDir("http-cred-store")
    withServer(catDir, credTtlMs = 300) { server =>
      val cat = new HttpCatalogClient(server.baseUri)
      DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
      val t = DeltaTable.forPath(spark, dir, cat)
      t.append(src(1, 10))
      val renewalsBefore = cat.credentialRenewals
      assert(renewalsBefore >= 1) // bootstrap vend happened

      // outlive the TTL so the cached token is stale, then keep working
      Thread.sleep(400)
      t.append(src(11, 20))
      assert(cat.maxRatifiedVersion(dir).contains(2L))
      assert(t.toDF.count() == 20)
      assert(cat.credentialRenewals > renewalsBefore,
        "client should have re-vended after expiry")
      assert(server.credentialsVended >= cat.credentialRenewals)

      // a fresh client starting after many expirations still works
      Thread.sleep(400)
      val late = new HttpCatalogClient(server.baseUri)
      assert(late.logTail(dir).map(_.version) == (0L to 2L))
    }
  }

  /** The per-table resource URL as the reference's uc_client.rs
    * table_path builds it: three percent-encoded segments.
    */
  private def tableUrl(server: HttpCatalogServer, dir: String,
      suffix: String = "") =
    server.baseUri + HttpCatalogProtocol.BASE +
      HttpCatalogProtocol.tablePath("main", "default", dir) + suffix

  private def rawVendToken(server: HttpCatalogServer, dir: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val http = java.net.http.HttpClient.newHttpClient()
    // GET with ?operation=, as uc_client.rs get_table_credentials
    val r = http.send(java.net.http.HttpRequest.newBuilder(
      java.net.URI.create(
        tableUrl(server, dir, "/credentials?operation=READ_WRITE")))
      .GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode == 200)
    mapper.readTree(r.body).get("storage-credentials").get(0)
      .get("config").get("token").asText
  }

  test("UC wire: update_table requirements — assert-table-uuid and " +
      "assert-etag gate the update; singleton rule enforced") {
    val dir = TestSpark.tmpDir("http-req")
    val catDir = TestSpark.tmpDir("http-req-store")
    withServer(catDir) { server =>
      val cat = new HttpCatalogClient(server.baseUri)
      DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))

      // raw wire probe: POST an update with a failing requirement
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val http = java.net.http.HttpClient.newHttpClient()
      def post(bodyJson: String, token: String): java.net.http.HttpResponse[String] =
        http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(tableUrl(server, dir)))
          .header("Authorization", s"Bearer $token")
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(bodyJson))
          .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      val token = rawVendToken(server, dir)

      // wrong uuid → 409 requirement-failed, nothing applied
      val bad = post("""{"requirements":[{"type":"assert-table-uuid",
        "uuid":"nope"}],"updates":[{"action":"set-latest-backfilled-version",
        "latest-published-version":0}]}""".replaceAll("\n\\s*", ""), token)
      assert(bad.statusCode == 409)
      assert(mapper.readTree(bad.body).get("error-code").asText ==
        "requirement-failed")

      // right uuid + right etag → applied; 200 carries an EMPTY body
      // (the reference client's handle_empty_response)
      val etag = HttpCatalogProtocol.etag(cat.maxRatifiedVersion(dir))
      val uuid = HttpCatalogProtocol.tableUuid(dir)
      val good = post(
        s"""{"requirements":[{"type":"assert-table-uuid","uuid":"$uuid"},
           |{"type":"assert-etag","etag":"$etag"}],
           |"updates":[]}""".stripMargin.replaceAll("\n", ""), token)
      assert(good.statusCode == 200)
      assert(good.body.isEmpty)

      // stale etag → 409
      val stale = post(s"""{"requirements":[{"type":"assert-etag",
        "etag":"v999"}],"updates":[]}""".replaceAll("\n\\s*", ""), token)
      assert(stale.statusCode == 409)

      // duplicate singleton → 400
      val dup = post(s"""{"requirements":[{"type":"assert-etag",
        "etag":"$etag"},{"type":"assert-etag","etag":"$etag"}],
        "updates":[]}""".replaceAll("\n\\s*", ""), token)
      assert(dup.statusCode == 400)

      // no/expired token → 401
      val noAuth = post("""{"requirements":[],"updates":[]}""", "bogus")
      assert(noAuth.statusCode == 401)
    }
  }

  test("UC wire: /config handshake, load_table response shape, and " +
      "table-not-found — field-for-field with the reference models") {
    val dir = TestSpark.tmpDir("http-shape")
    val catDir = TestSpark.tmpDir("http-shape-store")
    withServer(catDir) { server =>
      val cat = new HttpCatalogClient(server.baseUri)

      // GET /delta/v1/config?catalog=…&protocol-versions=…
      // (uc_client.rs get_config; models.rs CatalogConfig)
      val (endpoints, protocolVersion) = cat.getConfig()
      assert(protocolVersion == "1.0")
      assert(endpoints.contains("POST /delta/v1/catalogs/{catalog}" +
        "/schemas/{schema}/tables/{table}"))
      assert(endpoints.contains("POST /delta/v1/catalogs/{catalog}" +
        "/schemas/{schema}/staging-tables"))

      // unknown table → 404 table-not-found (uc_client.rs load_table
      // maps NOT_FOUND to Error::TableNotFound); client surfaces
      // None/Nil, never an exception
      val http = java.net.http.HttpClient.newHttpClient()
      assert(cat.maxRatifiedVersion(dir).isEmpty)
      assert(cat.logTail(dir).isEmpty)

      DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
      val t = DeltaTable.forPath(spark, dir, cat)
      t.append(src(1, 5))

      // raw load_table: assert the exact kebab-case response surface
      // models.rs LoadTableResponse/TableMetadata/Commit pin
      val token = rawVendToken(server, dir)
      val r = http.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(tableUrl(server, dir)))
        .header("Authorization", s"Bearer $token").GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode == 200)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val body = mapper.readTree(r.body)
      val meta = body.get("metadata")
      for (f <- Seq("etag", "table-type", "table-uuid", "location",
          "created-time", "updated-time", "columns", "partition-columns",
          "properties"))
        assert(meta.has(f), s"metadata missing $f")
      assert(meta.get("table-type").asText == "MANAGED")
      assert(meta.get("location").asText == dir)
      assert(meta.get("columns").get("type").asText == "struct")
      assert(body.get("latest-table-version").asLong == 1L)
      // commits newest-first with the full Commit field set; file-size
      // and modification timestamp are REAL (the staged file exists)
      val commits = body.get("commits")
      assert(commits.size == 2)
      assert(commits.get(0).get("version").asLong == 1L)
      assert(commits.get(1).get("version").asLong == 0L)
      for (f <- Seq("version", "timestamp", "file-name", "file-size",
          "file-modification-timestamp"))
        assert(commits.get(0).has(f), s"commit missing $f")
      assert(commits.get(0).get("file-size").asLong > 0)
      assert(commits.get(0).get("file-modification-timestamp").asLong > 0)
    }
  }

  test("UC wire: CREATE flow — staging-tables reserves id+location, " +
      "create-table registers, commits assert the vended table uuid") {
    val catDir = TestSpark.tmpDir("http-create-store")
    val managedRoot = TestSpark.tmpDir("http-create-tables")
    val server = new HttpCatalogServer(
      new FileCatalog(fs(catDir), new Path(catDir)), 0, 3600L * 1000,
      managedRoot = Some(managedRoot)).start()
    try {
      val boot = new HttpCatalogClient(server.baseUri)

      // step 1: reserve — the server allocates uuid + location and
      // advertises the protocol/properties the v0 commit must carry
      // (models.rs CreateStagingTableResponse)
      val stagedResp = boot.createStagingTable("events")
      val tableId = stagedResp.get("table-id").asText
      val location = stagedResp.get("location").asText
      assert(location.startsWith(managedRoot))
      assert(stagedResp.get("table-type").asText == "MANAGED")
      assert(stagedResp.get("storage-credentials").get(0)
        .get("operation").asText == "READ_WRITE")
      val reqProps = stagedResp.get("required-properties")
      assert(reqProps.get(HttpCatalogProtocol.TABLE_ID_KEY).asText ==
        tableId)
      val rp = stagedResp.get("required-protocol")
      assert(rp.get("min-reader-version").asInt == 3)
      assert(rp.get("min-writer-version").asInt == 7)

      // step 2: the engine writes version 0 at the reserved location,
      // carrying the required properties; this client asserts the
      // vended uuid on every update, as the reference UCCommitter does
      val cat = new HttpCatalogClient(server.baseUri,
        tableId = Some(tableId))
      DeltaTable.create(spark, location, src(1, 1).schema,
        configuration = Map(
          HttpCatalogProtocol.TABLE_ID_KEY -> tableId),
        catalog = Some(cat))

      // step 3: register (models.rs CreateTableRequest) — protocol is
      // typed and separate; derived protocol keys in `properties` are
      // rejected by the server
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def createReq(props: Map[String, String]) = {
        val req = mapper.createObjectNode()
        req.put("name", "events")
        req.put("location", location)
        req.put("table-type", "MANAGED")
        req.set[com.fasterxml.jackson.databind.node.ObjectNode]("columns",
          mapper.readTree(src(1, 1).schema.json))
        req.putArray("partition-columns")
        val proto = req.putObject("protocol")
        proto.put("min-reader-version", 3)
        proto.put("min-writer-version", 7)
        proto.putArray("reader-features").add("catalogManaged")
        proto.putArray("writer-features").add("catalogManaged")
        val p = req.putObject("properties")
        props.foreach { case (k, v) => p.put(k, v) }
        req.put("last-commit-timestamp-ms", System.currentTimeMillis())
        req
      }
      val leaky = intercept[IllegalArgumentException] {
        boot.createTable(createReq(Map(
          "delta.feature.catalogManaged" -> "supported")))
      }
      assert(leaky.getMessage.contains("400"))

      val loadResp = boot.createTable(createReq(Map(
        HttpCatalogProtocol.TABLE_ID_KEY -> tableId)))
      assert(loadResp.get("metadata").get("table-uuid").asText == tableId)
      assert(loadResp.get("metadata").get("columns").get("fields")
        .size == 2)

      // commits flow through update_table with assert-table-uuid; a
      // client asserting the WRONG uuid is refused with 409 while the
      // right one proceeds
      val t = DeltaTable.forPath(spark, location, cat)
      t.append(src(1, 10))
      assert(cat.maxRatifiedVersion(location).contains(1L))
      val imposter = new HttpCatalogClient(server.baseUri,
        tableId = Some("not-the-table"))
      val staleCommit = cat.logTail(location).head
      val e = intercept[Exception] {
        imposter.ratify(location,
          CatalogCommit(2L, staleCommit.location))
      }
      assert(e.getMessage.contains("uuid mismatch"))

      // registered metadata now serves through load_table, and the
      // table reads back whole
      val loaded = cat.loadTable(location)
      assert(loaded.get("metadata").get("table-uuid").asText == tableId)
      assert(loaded.get("metadata").get("properties")
        .get(HttpCatalogProtocol.TABLE_ID_KEY).asText == tableId)
      assert(DeltaTable.forPath(spark, location, cat).toDF.count() == 10)

      // post-commit telemetry (models.rs ReportMetricsRequest): the
      // server records it; a mismatched table-id is a 400
      val report = mapper.createObjectNode()
      report.put("num-files-added", 1L)
      report.put("num-bytes-added", 1024L)
      report.put("num-files-removed", 0L)
      report.put("num-bytes-removed", 0L)
      val hist = report.putObject("file-size-histogram")
      hist.putArray("sorted-bin-boundaries").add(0L)
      hist.putArray("file-counts").add(1L)
      hist.putArray("total-bytes").add(1024L)
      hist.put("commit-version", 1L)
      cat.reportMetrics(location, tableId, report)
      val recorded = server.metricsReports.get(location)
      assert(recorded.get("report").get("commit-report")
        .get("num-files-added").asLong == 1L)
      intercept[IllegalArgumentException] {
        cat.reportMetrics(location, "wrong-id", report)
      }
    } finally server.stop()
  }

  test("HTTP catalog: two-writer race — server arbitrates one winner " +
      "per version; loser rebases") {
    val dir = TestSpark.tmpDir("http-race")
    val catDir = TestSpark.tmpDir("http-race-store")
    withServer(catDir) { server =>
      val catA = new HttpCatalogClient(server.baseUri)
      val catB = new HttpCatalogClient(server.baseUri)
      DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(catA))
      val a = DeltaTable.forPath(spark, dir, catA)
      val b = DeltaTable.forPath(spark, dir, catB)

      val staleA = a.snapshot()        // A reads v0
      b.append(src(1, 10))             // B ratifies v1 first
      val v = a.appendFrom(staleA, src(11, 20)) // A: conflict → rebase
      assert(v == 2L)
      assert(catB.maxRatifiedVersion(dir).contains(2L))
      assert(a.toDF.select("k").as[Long].collect().toSet ==
        (1L to 20L).toSet)

      // raw arbitration over the wire: a taken version loses cleanly
      val taken = catA.logTail(dir).head
      assert(!catB.ratify(dir,
        CatalogCommit(taken.version, taken.location)))
      // … and out-of-order ratification is refused
      assert(!catB.ratify(dir, CatalogCommit(99L, taken.location)))
    }
  }

  test("HTTP catalog: ratification races from concurrent threads " +
      "yield exactly one winner per version") {
    val dir = TestSpark.tmpDir("http-threads")
    val catDir = TestSpark.tmpDir("http-threads-store")
    withServer(catDir) { server =>
      val cat = new HttpCatalogClient(server.baseUri)
      DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
      // 8 clients race to ratify version 1 with distinct locations
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val gate = new java.util.concurrent.CountDownLatch(1)
      val futures = Future.sequence((1 to 8).map { i =>
        Future {
          gate.await() // all 8 fire together
          new HttpCatalogClient(server.baseUri).ratify(dir,
            CatalogCommit(1L, new Path(s"/staged/loc-$i.json")))
        }
      })
      gate.countDown()
      val results = Await.result(futures, 30.seconds)
      assert(results.count(identity) == 1)
      assert(cat.maxRatifiedVersion(dir).contains(1L))
    }
  }

  test("HTTP catalog served from a SEPARATE JVM: round trip + race " +
      "with nothing shared but the socket") {
    val dir = TestSpark.tmpDir("http-jvm")
    val catDir = TestSpark.tmpDir("http-jvm-store")

    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val opens = Seq("java.base/java.lang", "java.base/java.util",
      "java.base/java.net", "java.base/java.io", "java.base/sun.nio.ch",
      "java.base/java.util.concurrent")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ opens ++ Seq("-cp",
      System.getProperty("java.class.path"),
      "graft.delta.HttpCatalogServerMain", catDir)
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).start()
    try {
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      // wait for the PORT= handshake (skip any log noise)
      val port = Iterator.continually(reader.readLine())
        .takeWhile(_ != null).collectFirst {
          case l if l.startsWith("PORT=") => l.stripPrefix("PORT=").toInt
        }.getOrElse(fail("catalog server never printed PORT="))

      val catA = new HttpCatalogClient(s"http://127.0.0.1:$port")
      val catB = new HttpCatalogClient(s"http://127.0.0.1:$port")
      DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(catA))
      val a = DeltaTable.forPath(spark, dir, catA)
      val b = DeltaTable.forPath(spark, dir, catB)
      a.append(src(1, 10))
      val staleB = b.snapshot()
      a.append(src(11, 20))             // A wins v2
      val v = b.appendFrom(staleB, src(21, 30)) // B rebases to v3
      assert(v == 3L)
      assert(catA.maxRatifiedVersion(dir).contains(3L))
      assert(b.toDF.select("k").as[Long].collect().toSet ==
        (1L to 30L).toSet)

      // publish through the remote catalog, then verify on-disk state
      assert(a.publish() == 3L)
      assert(publishedCommits(dir) == Seq(0L, 1L, 2L, 3L))
      assert(catB.logTail(dir).isEmpty)
    } finally proc.destroyForcibly()
  }

  test("UC wire: typed temporary-credential shapes — AWS keys for s3 " +
      "prefixes, azure SAS for abfss, gcs oauth for gs, empty for local") {
    import HttpCatalogProtocol.cloudCredentialConfig
    val aws = cloudCredentialConfig("s3://bucket/t", "seed1")
    assert(aws.keySet == Set("s3.access-key-id", "s3.secret-access-key",
      "s3.session-token"))
    assert(aws("s3.access-key-id").startsWith("ASIA"))
    // deterministic per seed (renewal with a new token rotates keys)
    assert(cloudCredentialConfig("s3://bucket/t", "seed1") == aws)
    assert(cloudCredentialConfig("s3://bucket/t", "seed2") != aws)

    val az = cloudCredentialConfig("abfss://c@acct.dfs.example/t", "s")
    assert(az.keySet == Set("azure.sas-token"))
    assert(az("azure.sas-token").contains("sig="))
    assert(cloudCredentialConfig("gs://bucket/t", "s").keySet ==
      Set("gcs.oauth-token"))
    assert(cloudCredentialConfig("/local/path", "s").isEmpty)
    assert(cloudCredentialConfig("file:///local/path", "s").isEmpty)
  }

  test("UC wire: storage-credential payloads parse to the typed shape " +
      "(nullable expiration, flat config map, redacting toString)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // reference credentials.rs `credentials_response_decodes_populated_body`
    val populated = mapper.readTree(
      """{"prefix":"s3://b/t/","operation":"READ",
        |"expiration-time-ms":123,
        |"config":{"s3.access-key-id":"ak","s3.secret-access-key":"sk"}}"""
        .stripMargin)
    val cred = HttpCatalogProtocol.parseStorageCredential(populated)
    assert(cred == StorageCredential("s3://b/t/", "READ", Some(123L),
      Map("s3.access-key-id" -> "ak", "s3.secret-access-key" -> "sk")))
    // reference `storage_credential_debug_redacts_config_secrets`
    assert(!cred.toString.contains("sk") ||
      cred.toString.contains("redacted"))
    assert(cred.toString.contains("redacted"))

    // reference `storage_credential_decodes_empty_config_and_absent_expiration`
    val local = mapper.readTree(
      """{"prefix":"file:///tmp/t/","operation":"READ_WRITE","config":{}}""")
    val lc = HttpCatalogProtocol.parseStorageCredential(local)
    assert(lc.operation == "READ_WRITE" && lc.expirationTimeMs.isEmpty &&
      lc.config.isEmpty)
  }

  test("UC wire: the vending endpoint serves the typed shape and the " +
      "client exposes it; local tables vend token-only config") {
    val dir = TestSpark.tmpDir("http-cred")
    val catDir = TestSpark.tmpDir("http-cred-store")
    withServer(catDir) { server =>
      val cat = new HttpCatalogClient(server.baseUri)
      DeltaTable.create(spark, dir, src(1, 1).schema, catalog = Some(cat))
      DeltaTable.forPath(spark, dir, cat).append(src(1, 5))
      val c = cat.lastCredential.get
      assert(c.prefix.startsWith(dir) && c.prefix.endsWith("/"))
      assert(c.operation == "READ_WRITE")
      assert(c.expirationTimeMs.exists(_ > System.currentTimeMillis()))
      // a file-path table has no cloud scheme: only the loopback token
      assert(c.config.keySet == Set("token"))
    }
  }
}

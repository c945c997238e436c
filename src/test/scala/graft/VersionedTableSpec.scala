package graft

import graft.util.VersionedTable
import org.apache.spark.sql.functions._

/** Staged-swap versioning contract (round-14 verdict #2): a rebuild must
  * never clobber the version a concurrent reader resolved — the first-hand
  * cross-session repro was a sibling JVM's sweep/rebuild invalidating a
  * live d19 probe mid-query.
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def whPath(name: String) = new java.io.File(
    spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      .stripPrefix("file:"), name)

  private def buildTable(rows: Seq[(Long, String)])(name: String): Unit =
    rows.toDF("id", "v").write.format("parquet")
      .bucketBy(2, "id").saveAsTable(name)

  test("a reader holding v1 survives a v2 rebuild; v1 is swept only at v3") {
    val stem = "vtspec_tbl_k1"
    graft.util.TableRetention.sweep(spark, "vtspec_")
    val dataA = Seq((1L, "a"), (2L, "a"))
    val dataB = Seq((1L, "b"), (2L, "b"), (3L, "b"))
    val dataC = Seq((9L, "c"))

    val v1 = VersionedTable.ensure(spark, "vtspec_", stem, buildTable(dataA))
    val reader = spark.table(v1) // lazy: the "live probe" holding v1
    assert(reader.count() == 2)

    // a second ensure with nothing changed reuses v1 (build-once)
    assert(VersionedTable.ensure(spark, "vtspec_", stem,
      _ => fail("must not rebuild a usable committed version")) == v1)

    // sibling rebuild: force a new version while the reader still holds v1
    val v2 = VersionedTable.ensure(spark, "vtspec_", stem, buildTable(dataB),
      usable = _ => false)
    assert(v2 != v1)
    // BOTH get consistent results: the v1 reader's data is intact (location
    // kept — retention keeps the newest two committed versions) and a fresh
    // resolve sees v2's data
    assert(reader.collect().map(_.getString(1)).forall(_ == "a"))
    assert(spark.table(VersionedTable.ensure(spark, "vtspec_", stem,
        _ => fail("v2 must resolve")))
      .collect().map(_.getString(1)).forall(_ == "b"))
    assert(whPath(v1).exists(), "v1 location must survive the v2 build")

    // the third build retires v1 (two newer committed versions exist)
    val v3 = VersionedTable.ensure(spark, "vtspec_", stem, buildTable(dataC),
      usable = n => n != v1 && n != v2) // simulate a sibling that can't see our catalog
    assert(!whPath(v1).exists(), "v1 must be swept once v2 and v3 are committed")
    assert(whPath(v2).exists() && whPath(v3).exists())
    graft.util.TableRetention.sweep(spark, "vtspec_")
  }

  test("uncommitted versions are never resolved; in-flight builds are not swept") {
    val stem = "vtspec_tbl_k2"
    graft.util.TableRetention.sweep(spark, "vtspec_")
    val v1 = VersionedTable.ensure(spark, "vtspec_", stem,
      buildTable(Seq((1L, "x"))))
    // a torn build: location exists, no commit marker, version number ABOVE
    // the committed one (an in-flight sibling build)
    val torn = s"${stem}__v99_deadbeef"
    assert(whPath(torn).mkdirs())
    // resolution skips it (uncommitted) and keeps reusing v1...
    assert(VersionedTable.ensure(spark, "vtspec_", stem,
      _ => fail("must not rebuild over a committed usable version")) == v1)
    // ...without sweeping the in-flight location out from under its builder
    assert(whPath(torn).exists(), "in-flight (uncommitted, newer) build swept")
    // and the next build numbers itself ABOVE the in-flight version so the
    // two can never collide on a location
    val v2 = VersionedTable.ensure(spark, "vtspec_", stem,
      buildTable(Seq((2L, "y"))), usable = _ => false)
    assert(v2.contains("__v100_"), s"expected v100, got $v2")
    graft.util.TableRetention.sweep(spark, "vtspec_")
  }

  test("reuse keeps the resolved version even when two newer committed versions exist") {
    // the cross-JVM shape: siblings committed v2/v3 this session can't use
    // (no catalog entries here), so resolution falls back to v1 — and the
    // retention pass must NOT sweep the very name it is about to return
    val stem = "vtspec_tbl_k4"
    graft.util.TableRetention.sweep(spark, "vtspec_")
    val v1 = VersionedTable.ensure(spark, "vtspec_", stem,
      buildTable(Seq((1L, "a"))))
    for (n <- Seq(2, 3)) { // committed marker-only sibling builds
      val d = whPath(s"${stem}__v${n}_cafe000$n")
      assert(d.mkdirs())
      assert(new java.io.File(d, "_GRAFT_COMMITTED").createNewFile())
    }
    val resolved = VersionedTable.ensure(spark, "vtspec_", stem,
      _ => fail("v1 is usable — must not rebuild"))
    assert(resolved == v1, s"expected fallback to $v1, got $resolved")
    assert(whPath(v1).exists(), "the resolved version was swept out from under its caller")
    assert(spark.table(v1).count() == 1)
    graft.util.TableRetention.sweep(spark, "vtspec_")
  }

  test("crashed builds age out: uncommitted versions older than the grace window sweep") {
    val stem = "vtspec_tbl_k5"
    graft.util.TableRetention.sweep(spark, "vtspec_")
    val v1 = VersionedTable.ensure(spark, "vtspec_", stem,
      buildTable(Seq((1L, "x"))))
    // a crashed build: uncommitted location whose mtime is beyond the grace
    // window — retention must treat it as litter, not an in-flight build
    val crashed = whPath(s"${stem}__v50_0ddba11")
    assert(crashed.mkdirs())
    assert(crashed.setLastModified(
      System.currentTimeMillis() - VersionedTable.InFlightGraceMs - 60000))
    assert(VersionedTable.ensure(spark, "vtspec_", stem,
      _ => fail("v1 is usable — must not rebuild")) == v1)
    assert(!crashed.exists(), "aged-out uncommitted build must be swept")
    assert(whPath(v1).exists())
    graft.util.TableRetention.sweep(spark, "vtspec_")
  }

  test("a sibling stem (different fixture key) survives another stem's retention") {
    // the cross-STEM shape the round-15 advice flagged: two sessions under
    // the same family prefix but keyed by different fixtures — one stem's
    // retain must apply the committed/grace-window keep rules to the OTHER
    // stem instead of sweeping everything the current keep set doesn't name
    graft.util.TableRetention.sweep(spark, "vtspec_")
    // the "sibling session": a committed version + an in-flight build +
    // a sibling artifact, all under a DIFFERENT fixture key
    val sibCommitted = "vtspec_tbl_kA__v7_beef0007"
    val sibArtifact = s"${sibCommitted}_band"
    val sibInFlight = "vtspec_tbl_kA__v8_beef0008"
    for (d <- Seq(sibCommitted, sibArtifact, sibInFlight)) assert(whPath(d).mkdirs())
    assert(new java.io.File(whPath(sibCommitted), "_GRAFT_COMMITTED").createNewFile())
    // ...and a crashed sibling build beyond the grace window (must sweep)
    val sibCrashed = "vtspec_tbl_kA__v5_beef0005"
    assert(whPath(sibCrashed).mkdirs())
    assert(whPath(sibCrashed).setLastModified(
      System.currentTimeMillis() - VersionedTable.InFlightGraceMs - 60000))
    // this session builds + retains under ITS stem
    val v1 = VersionedTable.ensure(spark, "vtspec_", "vtspec_tbl_kB",
      buildTable(Seq((1L, "mine"))))
    assert(whPath(v1).exists())
    assert(whPath(sibCommitted).exists(), "sibling stem's committed version swept")
    assert(whPath(sibArtifact).exists(), "sibling stem's artifact swept")
    assert(whPath(sibInFlight).exists(), "sibling stem's in-flight build swept")
    assert(!whPath(sibCrashed).exists(), "sibling stem's aged-out crash must still sweep")
    graft.util.TableRetention.sweep(spark, "vtspec_")
  }

  test("sibling artifacts (model dirs) version and retire with their table") {
    val stem = "vtspec_tbl_k3"
    graft.util.TableRetention.sweep(spark, "vtspec_")
    def buildWithModel(tag: String)(name: String): Unit = {
      buildTable(Seq((1L, tag)))(name)
      Seq((tag, 1)).toDF("m", "k").write.parquet(whPath(s"${name}_model").toString)
    }
    val sib = (n: String) => Seq(s"${n}_model")
    val v1 = VersionedTable.ensure(spark, "vtspec_", stem,
      buildWithModel("a"), siblings = sib)
    val v2 = VersionedTable.ensure(spark, "vtspec_", stem,
      buildWithModel("b"), usable = _ => false, siblings = sib)
    assert(whPath(s"${v1}_model").exists(), "previous version's model must survive")
    val v3 = VersionedTable.ensure(spark, "vtspec_", stem,
      buildWithModel("c"), usable = n => n != v1 && n != v2, siblings = sib)
    assert(!whPath(s"${v1}_model").exists(), "retired version's model must be swept")
    assert(whPath(s"${v2}_model").exists() && whPath(s"${v3}_model").exists())
    graft.util.TableRetention.sweep(spark, "vtspec_")
  }

  test("a leased version outlives depth-2 retention until the lease expires") {
    val stem = "vtspec_tbl_k4"
    graft.util.TableRetention.sweep(spark, "vtspec_")
    val v1 = VersionedTable.ensure(spark, "vtspec_", stem, buildTable(Seq((1L, "a"))))
    // the long-running reader announces itself
    VersionedTable.lease(spark, v1)
    // two full rebuild cycles later, an unleased v1 would be gone (the
    // depth-2 contract the first spec pins) — the lease keeps it
    val v2 = VersionedTable.ensure(spark, "vtspec_", stem,
      buildTable(Seq((1L, "b"))), usable = _ => false)
    val v3 = VersionedTable.ensure(spark, "vtspec_", stem,
      buildTable(Seq((1L, "c"))), usable = n => n != v1 && n != v2)
    assert(whPath(v1).exists(), "leased v1 must survive two newer committed versions")
    // the CLI's warehouse-wide sweep honors the same lease
    VersionedTable.sweepStale(spark)
    assert(whPath(v1).exists(), "sweepStale must honor a live lease")
    // expire the lease (age the lease FILE past LeaseMs) -> next retention
    // retires v1 like any depth-3 version
    assert(new java.io.File(whPath(v1), "_GRAFT_LEASE").setLastModified(
      System.currentTimeMillis() - VersionedTable.LeaseMs - 60000))
    VersionedTable.sweepStale(spark)
    assert(!whPath(v1).exists(), "expired lease must stop protecting v1")
    assert(whPath(v2).exists() && whPath(v3).exists())
    graft.util.TableRetention.sweep(spark, "vtspec_")
  }

  test("lease refuses uncommitted versions (readers resolve committed only)") {
    val stem = "vtspec_tbl_k5"
    graft.util.TableRetention.sweep(spark, "vtspec_")
    // manufacture an in-flight (uncommitted) versioned location the way
    // ensure() announces one: base dir exists, no _GRAFT_COMMITTED marker
    val name = s"${stem}__v1_deadbeef"
    assert(new java.io.File(whPath(name).toString).mkdirs())
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.lease(spark, name)
    }
    assert(ex.getMessage.contains("not committed"), ex.getMessage)
    // a lease heartbeat must not be able to reset the in-flight age
    // signal — committing the version makes the same call legal
    VersionedTable.commit(spark, name)
    VersionedTable.lease(spark, name)
    assert(new java.io.File(whPath(name), "_GRAFT_LEASE").exists())
    graft.util.TableRetention.sweep(spark, "vtspec_")
  }

  test("retention's spare hook re-checks at delete time (lease race closed)") {
    // TableRetention.sweep evaluates its `keep` predicate (the spare hook)
    // per candidate at delete time; VersionedTable wires a lease re-stat
    // through it. Pin the predicate contract directly: a doomed name the
    // predicate spares survives, and the sweep still removes everything
    // else under the prefix.
    val stem = "vtspec_tbl_k6"
    graft.util.TableRetention.sweep(spark, "vtspec_")
    val v1 = VersionedTable.ensure(spark, "vtspec_", stem, buildTable(Seq((1L, "a"))))
    val v2 = VersionedTable.ensure(spark, "vtspec_", stem,
      buildTable(Seq((1L, "b"))), usable = _ => false)
    // the predicate (standing in for a just-taken lease) spares v1 —
    // exactly what locationLeased does between the keep-set listing and
    // the delete
    val swept = graft.util.TableRetention.sweep(spark, "vtspec_",
      n => n == v1 || n.startsWith(v1))
    assert(whPath(v1).exists(), "spared version must survive the sweep")
    assert(!whPath(v2).exists(), "unspared version must still sweep")
    assert(swept.exists(_.endsWith(v2)) && !swept.exists(_.endsWith(v1)))
    graft.util.TableRetention.sweep(spark, "vtspec_")
  }

  test("tableNames lists what the public catalog lists, temp views included") {
    graft.util.TableRetention.sweep(spark, "vtspec_")
    buildTable(Seq((1L, "a")))("vtspec_list_a")
    buildTable(Seq((2L, "b")))("vtspec_list_b")
    // a lookalike outside the `vtspec_` prefixes: `_` is no wildcard in a
    // SHOW TABLES pattern
    buildTable(Seq((3L, "c")))("vtspecxlist_c")
    Seq(1L).toDF("id").createOrReplaceTempView("vtspec_list_view")
    try {
      val db = spark.catalog.currentDatabase
      for (prefix <- Seq("vtspec_list", "vtspec_", "vtspecx")) {
        val public = spark.catalog.listTables(db, prefix + "*").collect().map(_.name).toSet
        assert(graft.util.TableRetention.tableNames(spark, prefix).toSet == public, prefix)
      }
      assert(graft.util.TableRetention.tableNames(spark, "vtspec_list").toSet ==
        Set("vtspec_list_a", "vtspec_list_b", "vtspec_list_view"))
    } finally {
      spark.catalog.dropTempView("vtspec_list_view")
      graft.util.TableRetention.sweep(spark, "vtspec")
    }
  }
}

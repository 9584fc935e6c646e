package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The durable SQL surface (sources.v2.GraftCatalog): named tables
  * resolve across sessions from on-disk descriptors, SQL time travel
  * hits the table formats' version/timestamp resolution, writes
  * commit through the CAS protocols, and — the load-bearing claim —
  * a FRESH session that knows only the catalog conf still gets
  * file-skipping, because named tables carry their metadata as table
  * properties (or structurally, in the manifest) instead of the
  * per-JVM GraftTables registry. */
class CatalogSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val warehouse = {
    val w = java.nio.file.Files
      .createTempDirectory("graft-warehouse").toString
    // a spec-private catalog name: the session caches catalog instances
    // on first use, and the gated q_graft_sql query owns "graft" with
    // its own warehouse when the full suite runs
    spark.conf.set("spark.sql.catalog.graftc",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftc.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftc.db")
    w
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec =>
      b.partitions.flatten.collect { case fp: FilePartition =>
        fp.files.map(_.filePath.toString).toSeq }.flatten
    }.flatten.distinct.size
  }

  test("managed table lifecycle: CREATE with schema, INSERT INTO, SELECT, overwrite, rename, drop") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.kv (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    assert(spark.sql("SHOW TABLES IN graftc.db").collect()
      .map(_.getString(1)).contains("kv"))
    // created empty, readable immediately
    assert(spark.sql("SELECT * FROM graftc.db.kv").count() == 0)
    spark.sql("INSERT INTO graftc.db.kv VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graftc.db.kv VALUES (3, 'c')")
    assert(spark.sql("SELECT * FROM graftc.db.kv ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // each INSERT was a real manifest commit: version history exists
    val loc = s"$warehouse/tables/db/kv"
    assert(sinks.ManifestTable.versions(spark, loc) == Seq(0L, 1L, 2L))
    // INSERT OVERWRITE replaces content; history stays travelable
    spark.sql("INSERT OVERWRITE graftc.db.kv VALUES (9, 'z')")
    assert(spark.sql("SELECT * FROM graftc.db.kv").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
    assert(spark.sql("SELECT * FROM graftc.db.kv VERSION AS OF 2")
      .count() == 3)
    // writeTo append composes with the same commit path
    Seq((10L, "w")).toDF("k", "v").writeTo("graftc.db.kv").append()
    assert(spark.sql("SELECT * FROM graftc.db.kv").count() == 2)
    spark.sql("ALTER TABLE graftc.db.kv RENAME TO graftc.db.kv2")
    assert(spark.sql("SELECT * FROM graftc.db.kv2").count() == 2)
    spark.sql("DROP TABLE graftc.db.kv2")
    assert(!spark.catalog.tableExists("graftc.db.kv2"))
    // data survives the descriptor drop (external-style semantics)
    assert(sinks.ManifestTable.read(spark, loc).count() == 2)
  }

  test("adopted location + SQL time travel by version and timestamp") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-adopt").toString + "/t"
    val clock = new util.LogicalClock(1000L)
    val prev = sinks.VersionedTable.commitClock
    sinks.VersionedTable.commitClock = clock
    try {
      sinks.ManifestTable.create(Seq((1L, "a")).toDF("k", "v"), loc, Seq("k"))
      clock.advance(5000L)
      sinks.ManifestTable.write(Seq((2L, "b")).toDF("k", "v"), loc)
      spark.sql(s"CREATE TABLE graftc.db.adopted USING graft LOCATION '$loc'")
      assert(spark.sql("SELECT * FROM graftc.db.adopted").count() == 2)
      assert(spark.sql("SELECT * FROM graftc.db.adopted VERSION AS OF 0")
        .collect().map(_.getLong(0)).toSeq == Seq(1L))
      // TIMESTAMP AS OF resolves through the stamped manifest commits
      // (t = 2s: only version 0, stamped at t=1s, existed)
      val t0 = java.time.Instant.ofEpochMilli(2000L)
        .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
        .replace('T', ' ')
      assert(spark.sql(
        s"SELECT * FROM graftc.db.adopted TIMESTAMP AS OF '$t0'")
        .collect().map(_.getLong(0)).toSeq == Seq(1L))
    } finally sinks.VersionedTable.commitClock = prev
  }

  test("epoch-directory table refuses DSv2 and SQL appends naming ManifestTable; overwrite commits the next epoch") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-epoch").toString + "/t"
    sinks.VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), loc)
    spark.sql(s"CREATE TABLE graftc.db.epochs USING graft LOCATION '$loc'")
    def causes(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" <- ")
    // every epoch is a full snapshot: a row append has no grain here
    val viaWriter = intercept[Exception] {
      Seq((2L, "b")).toDF("k", "v")
        .write.format("graft").mode("append").save(loc)
    }
    assert(causes(viaWriter).contains("ManifestTable"), causes(viaWriter))
    val viaSql = intercept[Exception] {
      spark.sql("INSERT INTO graftc.db.epochs VALUES (3, 'c')")
    }
    assert(causes(viaSql).contains("ManifestTable"), causes(viaSql))
    assert(sinks.VersionedTable.latestVersion(spark, loc) == 0L,
      "a refused append must commit nothing")
    // a whole-table overwrite is the epoch grain: the next epoch
    Seq((4L, "d")).toDF("k", "v")
      .write.format("graft").mode("overwrite").save(loc)
    assert(sinks.VersionedTable.latestVersion(spark, loc) == 1L)
    assert(spark.sql("SELECT k FROM graftc.db.epochs").collect()
      .map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("a fresh session resolves by name and still prunes — no per-JVM registration involved") {
    warehouse: Unit
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-prune").toString + "/t"
    sinks.ManifestTable.create(
      docs.repartitionByRange(5, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), loc, Seq("doc_id"))
    spark.sql(s"CREATE TABLE graftc.db.pruned USING graft LOCATION '$loc'")
    // a brand-new session: fresh session state and catalog instances,
    // nothing registered in it beyond the catalog conf itself
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graftc", "graft.sources.v2.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graftc.warehouse", warehouse)
    plans.GraftTables.clear() // prove the JVM registry plays no part
    val lo = docs.agg(min(col("doc_id"))).head().getLong(0)
    val total = sinks.ManifestTable.filesAt(spark, loc, 0).size
    val q = s2.sql(
      s"SELECT doc_id FROM graftc.db.pruned WHERE doc_id <= ${lo + 2}")
    assert(scannedFiles(q) < total,
      s"named-table read in a fresh session must prune (opened all $total)")
    assert(q.collect().map(_.getLong(0)).toSet ==
      docs.filter(col("doc_id") <= lo + 2)
        .select(col("doc_id")).as[Long].collect().toSet)
  }

  test("SQL UPDATE and DELETE on a catalog table delegate to the file-granular manifest ops") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-rowlevel").toString + "/t"
    sinks.ManifestTable.create(
      spark.range(0, 100).select(col("id").as("k"),
          (col("id") * 2).as("v"), concat(lit("r"), col("id")).as("s"))
        .repartitionByRange(5, col("k")).sortWithinPartitions(col("k")),
      loc, Seq("k"))
    spark.sql(s"CREATE TABLE graftc.db.rl USING graft LOCATION '$loc'")
    val filesBefore = sinks.ManifestTable.filesAt(spark, loc,
      sinks.ManifestTable.latestVersion(spark, loc)).toSet

    // UPDATE with a range predicate: expressions over the old row,
    // WHERE honored, NULL-free arithmetic
    spark.sql("UPDATE graftc.db.rl SET v = v + 1000, s = concat(s, '!') " +
      "WHERE k < 10")
    val afterUpdate = sinks.ManifestTable.read(spark, loc)
      .orderBy(col("k")).collect()
    assert(afterUpdate.length == 100)
    assert(afterUpdate.take(10).forall(r =>
      r.getLong(1) == r.getLong(0) * 2 + 1000 &&
        r.getString(2) == s"r${r.getLong(0)}!"))
    assert(afterUpdate.drop(10).forall(r =>
      r.getLong(1) == r.getLong(0) * 2 && r.getString(2) == s"r${r.getLong(0)}"))
    // file-granular: the range predicate provably misses most files —
    // untouched ones carry into the new version BY REFERENCE
    val filesAfterUpdate = sinks.ManifestTable.filesAt(spark, loc,
      sinks.ManifestTable.latestVersion(spark, loc)).toSet
    assert((filesBefore & filesAfterUpdate).nonEmpty,
      "a k < 10 UPDATE must not rewrite every file of a k-clustered table")

    // DELETE: SQL semantics through the same envelope engine
    spark.sql("DELETE FROM graftc.db.rl WHERE k >= 90")
    val afterDelete = sinks.ManifestTable.read(spark, loc)
    assert(afterDelete.count() == 90)
    assert(afterDelete.agg(max(col("k"))).head().getLong(0) == 89L)
  }

  test("SQL MERGE INTO upserts through ManifestTable.merge; unsupported shapes fail with the contract named") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-merge").toString + "/t"
    sinks.ManifestTable.create(
      spark.range(0, 50).select(col("id").as("k"), (col("id") * 10).as("v")),
      loc, Seq("k"))
    spark.sql(s"CREATE TABLE graftc.db.m USING graft LOCATION '$loc'")
    // source: updates for k in [40, 50), inserts for k in [50, 60)
    spark.range(40, 60).select(col("id").as("k"), lit(-1L).as("v"))
      .createOrReplaceTempView("merge_src")
    spark.sql("""MERGE INTO graftc.db.m AS t USING merge_src AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val rows = sinks.ManifestTable.read(spark, loc)
      .orderBy(col("k")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 60)
    assert(rows.take(40).forall { case (k, v) => v == k * 10 })
    assert(rows.drop(40).forall { case (_, v) => v == -1L })
    // explicit column lists work too, when both arms agree
    spark.range(0, 3).select(col("id").as("k"), lit(7L).as("v"))
      .createOrReplaceTempView("merge_src2")
    spark.sql("""MERGE INTO graftc.db.m AS t USING merge_src2 AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v, k = s.k
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(sinks.ManifestTable.read(spark, loc)
      .filter(col("k") < 3).orderBy(col("k"))
      .collect().map(_.getLong(1)).toSeq == Seq(7L, 7L, 7L))
    // a non-equi ON clause names the supported contract instead of
    // silently doing something else
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO graftc.db.m AS t USING merge_src AS s
        ON t.k > s.k
        WHEN MATCHED THEN DELETE""")
    }
    assert(e.getMessage.contains("equi-key"))
    // a KEY assigned anything but the ON clause's source column would
    // make the engine merge under a different identity than the
    // statement joins on — refused, not silently mis-merged
    val e2 = intercept[Exception] {
      spark.sql("""MERGE INTO graftc.db.m AS t USING merge_src AS s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET k = s.k + 1, v = s.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k + 1, s.v)""")
    }
    assert(e2.getMessage.contains("key column"))
  }

  test("SQL MERGE full clause surface: conditional arms, matched DELETE, NOT MATCHED BY SOURCE — CoW and MoR") {
    warehouse: Unit
    for ((mor, name) <- Seq((false, "mfc"), (true, "mfm"))) {
      val loc = java.nio.file.Files
        .createTempDirectory(s"graft-catalog-mergefull-$name").toString + "/t"
      sinks.ManifestTable.create(
        spark.range(0, 50).select(col("id").as("k"), (col("id") * 10).as("v"))
          .repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
        loc, Seq("k"))
      val props =
        if (mor) " TBLPROPERTIES ('mergeMode' = 'merge-on-read')" else ""
      spark.sql(
        s"CREATE TABLE graftc.db.$name USING graft LOCATION '$loc'$props")
      spark.range(40, 60).select(col("id").as("k"), lit(-1L).as("v"))
        .createOrReplaceTempView(s"merge_full_src_$name")
      // every clause family at once, with in-order arm semantics:
      // both BY SOURCE arms cover k<5 — the FIRST (DELETE) must win
      spark.sql(s"""MERGE INTO graftc.db.$name AS t
        USING merge_full_src_$name AS s
        ON t.k = s.k
        WHEN MATCHED AND t.k < 45 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = t.v + s.v
        WHEN NOT MATCHED AND s.k < 55 THEN INSERT (k, v) VALUES (s.k, s.v)
        WHEN NOT MATCHED BY SOURCE AND t.k < 5 THEN DELETE
        WHEN NOT MATCHED BY SOURCE AND t.k < 10 THEN UPDATE SET v = -t.v""")
      val got = sinks.ManifestTable.read(spark, loc).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want =
        (5L to 9L).map(k => k -> -(k * 10)) ++      // by-source UPDATE arm
        (10L to 39L).map(k => k -> k * 10) ++       // untouched
        (45L to 49L).map(k => k -> (k * 10 - 1)) ++ // matched UPDATE arm
        (50L to 54L).map(k => k -> -1L)             // conditional INSERT
      // k<5 by-source-deleted, 40..44 matched-deleted, 55..59 no arm
      assert(got == want.toMap, s"mor=$mor: ${got.toSeq.sorted}")
      // duplicate ON keys in the source are the SQL multi-match error
      spark.range(0, 2).select((col("id") * 0 + 45L).as("k"),
        col("id").as("v")).createOrReplaceTempView(s"merge_dup_src_$name")
      val e = intercept[Exception] {
        spark.sql(s"""MERGE INTO graftc.db.$name AS t
          USING merge_dup_src_$name AS s
          ON t.k = s.k
          WHEN MATCHED AND t.v > 0 THEN UPDATE SET v = s.v
          WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
      }
      assert(e.getMessage.contains("duplicate"), e.getMessage)
      // a general-path UPDATE arm reassigning the key is refused
      val e2 = intercept[Exception] {
        spark.sql(s"""MERGE INTO graftc.db.$name AS t
          USING merge_full_src_$name AS s
          ON t.k = s.k
          WHEN MATCHED AND s.v < 0 THEN UPDATE SET k = t.k + 1""")
      }
      assert(e2.getMessage.contains("key column"), e2.getMessage)
    }
  }

  test("SQL RENAME COLUMN: metadata-only, queries/writes/maintenance declarations follow the new name") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.rn (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k', 'clusterBy' = 'k')")
    spark.sql("INSERT INTO graftc.db.rn VALUES (1, 10), (2, 20)")
    val loc = s"$warehouse/tables/db/rn"
    val filesBefore = sinks.ManifestTable.filesAt(spark,
      loc, sinks.ManifestTable.latestVersion(spark, loc)).toSet
    spark.sql("ALTER TABLE graftc.db.rn RENAME COLUMN k TO key")
    // metadata-only: the data files carry by reference
    assert(sinks.ManifestTable.filesAt(spark, loc,
      sinks.ManifestTable.latestVersion(spark, loc)).toSet == filesBefore)
    // the new name queries; the old one no longer resolves
    assert(spark.sql(
      "SELECT v FROM graftc.db.rn WHERE key = 2").head().getLong(0) == 20L)
    intercept[Exception] {
      spark.sql("SELECT k FROM graftc.db.rn").collect()
    }
    // writes speak the new name too
    spark.sql("INSERT INTO graftc.db.rn VALUES (3, 30)")
    assert(spark.sql("SELECT sum(v) FROM graftc.db.rn").head().getLong(0)
      == 60L)
    // TIME TRAVEL reads the pre-rename version under its own schema
    assert(spark.sql("SELECT * FROM graftc.db.rn VERSION AS OF 1")
      .columns.toSeq == Seq("k", "v"))
    // the declared maintenance follows the rename
    val cat = org.apache.spark.sql.graft.GraftSqlShims
      .catalogManager(spark).catalog("graftc")
      .asInstanceOf[sources.v2.GraftCatalog]
    val props = cat.tableDef(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "rn")).get
    assert(props.getProperty("clusterBy") == "key")
    assert(props.getProperty("statsCols") == "key")
  }

  test("atomic CTAS/RTAS: failed CTAS leaves no descriptor and no directory; success is one visible commit") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.ctas TBLPROPERTIES " +
      "('statsCols' = 'k') AS SELECT id AS k, id * 2 AS v FROM range(10)")
    assert(spark.sql("SELECT sum(v) FROM graftc.db.ctas")
      .head().getLong(0) == 90L)
    // the staged write really landed as manifest commits with stats
    val loc = s"$warehouse/tables/db/ctas"
    assert(sinks.ManifestTable.statsCols(spark, loc,
      sinks.ManifestTable.latestVersion(spark, loc)) == Seq("k"))
    // a CTAS whose query FAILS mid-write must leave neither a
    // descriptor nor a directory — not a registered-but-empty table
    val failLoc = s"$warehouse/tables/db/ctasfail"
    intercept[Exception] {
      spark.sql("CREATE TABLE graftc.db.ctasfail AS " +
        "SELECT assert_true(id < 5) AS chk, id FROM range(10)")
    }
    assert(!spark.catalog.tableExists("graftc.db.ctasfail"))
    val p = new org.apache.hadoop.fs.Path(failLoc)
    assert(!p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(p), "failed CTAS must leave no directory")
    // a CTAS aimed at an EXPLICIT location already holding a manifest
    // table must refuse — never wipe someone's data (only the
    // identifier's own managed path may clear a crashed-CTAS orphan)
    val occupied = java.nio.file.Files
      .createTempDirectory("graft-ctas-occupied").toString + "/t"
    sinks.ManifestTable.create(
      spark.range(5).select(col("id").as("k")), occupied, Seq("k"))
    val wipe = intercept[Exception] {
      spark.sql("CREATE TABLE graftc.db.ctasloc " +
        s"LOCATION '$occupied' AS SELECT id FROM range(3)")
    }
    assert(wipe.getMessage.contains("already lives there") ||
      Option(wipe.getCause).exists(
        _.getMessage.contains("already lives there")))
    assert(sinks.ManifestTable.read(spark, occupied).count() == 5L,
      "the refused CTAS must leave the existing table intact")
    // RTAS replaces content AND schema in one CAS commit; the prior
    // life stays time-travelable under its own sidecar
    spark.sql("REPLACE TABLE graftc.db.ctas AS " +
      "SELECT id AS a, concat('s', id) AS b FROM range(3)")
    val re = spark.sql("SELECT * FROM graftc.db.ctas ORDER BY a")
    assert(re.columns.toSeq == Seq("a", "b"))
    assert(re.count() == 3)
    assert(spark.sql("SELECT * FROM graftc.db.ctas VERSION AS OF 1")
      .columns.toSeq == Seq("k", "v"))
  }

  test("an aborted RTAS compensates: the pre-replace content is restored as a new commit") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.rtasab AS " +
      "SELECT id AS k, id * 2 AS v FROM range(10)")
    val loc = s"$warehouse/tables/db/rtasab"
    val preV = sinks.ManifestTable.latestVersion(spark, loc)
    val cat = org.apache.spark.sql.graft.GraftSqlShims
      .catalogManager(spark).catalog("graftc")
      .asInstanceOf[sources.v2.GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("db"), "rtasab")
    // drive the staged surface exactly as AtomicReplaceTableAsSelect
    // does: stage, write the query result, then ABORT (the shape of a
    // commit-time failure — the replacement has already committed
    // during execution, so abort must compensate)
    val staged = cat.stageReplace(ident,
      new org.apache.spark.sql.types.StructType()
        .add("a", org.apache.spark.sql.types.LongType),
      Array.empty, new java.util.HashMap[String, String]())
    staged.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(null).build()
      .asInstanceOf[org.apache.spark.sql.connector.write.V1Write]
      .toInsertableRelation
      .insert(spark.range(3).select(col("id").as("a")), true)
    staged.abortStagedChanges()
    // content and schema are the pre-RTAS table's again
    val back = spark.sql("SELECT * FROM graftc.db.rtasab ORDER BY k")
    assert(back.columns.toSeq == Seq("k", "v"))
    assert(back.count() == 10)
    assert(spark.sql("SELECT sum(v) FROM graftc.db.rtasab")
      .head().getLong(0) == 90L)
    // the compensation is a NEW commit (history keeps the aborted
    // attempt time-travelable), never a destructive rollback
    assert(sinks.ManifestTable.latestVersion(spark, loc) == preV + 2,
      "abort must restore by compensating commit")
    // a concurrent commit on top of the replacement is NEVER rolled
    // back by a failing RTAS's cleanup
    val staged2 = cat.stageReplace(ident,
      new org.apache.spark.sql.types.StructType()
        .add("a", org.apache.spark.sql.types.LongType),
      Array.empty, new java.util.HashMap[String, String]())
    staged2.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(null).build()
      .asInstanceOf[org.apache.spark.sql.connector.write.V1Write]
      .toInsertableRelation
      .insert(spark.range(4).select(col("id").as("a")), true)
    sinks.ManifestTable.write(
      spark.range(100, 101).select(col("id").as("a")), loc): Unit
    val topV = sinks.ManifestTable.latestVersion(spark, loc)
    staged2.abortStagedChanges()
    assert(sinks.ManifestTable.latestVersion(spark, loc) == topV,
      "abort under a concurrent commit must leave the table alone")
    assert(spark.sql("SELECT count(*) FROM graftc.db.rtasab")
      .head().getLong(0) == 5L)
  }

  test("a time-traveled handle is read-only: INSERT INTO ... VERSION AS OF fails fast") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-pinned").toString + "/t"
    sinks.ManifestTable.create(
      spark.range(0, 5).select(col("id").as("k")), loc, Seq("k"))
    sinks.ManifestTable.write(
      spark.range(5, 8).select(col("id").as("k")), loc)
    spark.sql(s"CREATE TABLE graftc.db.pinned USING graft LOCATION '$loc'")
    // the pinned handle reads the old version fine...
    assert(spark.sql("SELECT * FROM graftc.db.pinned VERSION AS OF 0")
      .count() == 5)
    // ...but a pinned resolution advertises no write capability and
    // its write builder refuses outright — a write through it would
    // silently land against the table's LATEST version otherwise
    val t = new sources.v2.GraftTableProvider
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", loc); opts.put("versionAsOf", "0")
    val cis = new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts)
    val tbl = t.getTable(t.inferSchema(cis), Array.empty, cis)
    assert(!tbl.capabilities().contains(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_WRITE))
    val e2 = intercept[UnsupportedOperationException] {
      tbl.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(null)
    }
    assert(e2.getMessage.contains("read-only"))
  }

  test("ALTER TABLE ADD COLUMN: sidecar widens with ZERO data rewrites; old rows read NULL; strict appends still refuse surprises") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.evo (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql("INSERT INTO graftc.db.evo VALUES (1, 'a'), (2, 'b')")
    val loc = s"$warehouse/tables/db/evo"
    val vBefore = sinks.ManifestTable.latestVersion(spark, loc)
    val filesBefore = sinks.ManifestTable.filesAt(spark, loc, vBefore)
    // an undeclared surprise column in an APPEND is refused (strict)
    intercept[Exception] {
      spark.sql("INSERT INTO graftc.db.evo VALUES (3, 'c', 'oops')")
    }
    // an unhonorable constraint is refused, never silently dropped
    val enn = intercept[Exception] {
      spark.sql("ALTER TABLE graftc.db.evo ADD COLUMN bad STRING NOT NULL")
    }
    assert(enn.getMessage.contains("NOT NULL"))
    spark.sql("ALTER TABLE graftc.db.evo ADD COLUMN note STRING")
    val vAfter = sinks.ManifestTable.latestVersion(spark, loc)
    assert(vAfter == vBefore + 1)
    // additive evolution rewrote NOTHING: the new manifest carries
    // every data file by reference
    assert(sinks.ManifestTable.filesAt(spark, loc, vAfter) == filesBefore)
    // old rows serve NULL for the evolved column; new writes carry it
    assert(spark.sql("SELECT note FROM graftc.db.evo").collect()
      .forall(_.isNullAt(0)))
    spark.sql("INSERT INTO graftc.db.evo VALUES (3, 'c', 'hi')")
    assert(spark.sql(
      "SELECT k, v, note FROM graftc.db.evo ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      .toSeq == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some("hi"))))
    // DROP COLUMN: the inverse evolution — narrower sidecar, files by
    // reference, the column vanishes from SQL
    val filesPreDrop = sinks.ManifestTable.filesAt(spark, loc,
      sinks.ManifestTable.latestVersion(spark, loc))
    spark.sql("ALTER TABLE graftc.db.evo DROP COLUMN note")
    assert(sinks.ManifestTable.filesAt(spark, loc,
      sinks.ManifestTable.latestVersion(spark, loc)) == filesPreDrop)
    assert(!spark.table("graftc.db.evo").columns.contains("note"))
    // re-adding the name while a live file still carries it maps the
    // new column to a FRESH physical name — the dropped 'hi' stays
    // invisible (NULL everywhere), nothing refused, zero rewrites
    spark.sql("ALTER TABLE graftc.db.evo ADD COLUMN note STRING")
    assert(spark.sql("SELECT note FROM graftc.db.evo").collect()
      .forall(_.isNullAt(0)),
      "re-added column must read NULL, never the dropped values")
    spark.sql("ALTER TABLE graftc.db.evo DROP COLUMN note")
    // dropping a column the declared maintenance rides on is refused
    // until the policy is re-declared — a broken scheduled tick is
    // worse than a refused ALTER
    spark.sql("ALTER TABLE graftc.db.evo " +
      "SET TBLPROPERTIES ('clusterBy' = 'v')")
    val pol = intercept[Exception] {
      spark.sql("ALTER TABLE graftc.db.evo DROP COLUMN v")
    }
    assert(pol.getMessage.contains("clusterBy"))
    spark.sql("ALTER TABLE graftc.db.evo UNSET TBLPROPERTIES ('clusterBy')")
    spark.sql("ALTER TABLE graftc.db.evo DROP COLUMN v")
    assert(spark.table("graftc.db.evo").columns.toSeq == Seq("k"))
  }

  test("catalog-declared clustering: maintain(tableName) re-clusters degraded appends from metadata alone, then skips restored") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-maintain").toString + "/t"
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    // well-clustered base...
    sinks.ManifestTable.create(
      even.repartitionByRange(6, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), loc, Seq("doc_id"))
    // smallFileBytes = 0: spec files are all tiny, so the default
    // small-file compaction would select the WHOLE table — the test
    // isolates the width-degradation selection the tick relies on
    spark.sql(s"CREATE TABLE graftc.db.cl USING graft LOCATION '$loc' " +
      "TBLPROPERTIES ('clusterBy' = 'doc_id', " +
      "'smallFileBytes' = '0', 'wideFactor' = '3')")
    // ...degraded by appends whose files span the whole key domain
    sinks.ManifestTable.write(odd.filter(col("doc_id") % 4 === 1)
      .coalesce(1), loc)
    sinks.ManifestTable.write(odd.filter(col("doc_id") % 4 === 3)
      .coalesce(1), loc)
    val before = sinks.ManifestTable.read(spark, loc)
    val cleanFiles = sinks.ManifestTable.filesAt(spark, loc, 0).toSet
    val (o1, _) = sources.v2.GraftMaintenance.maintain(spark, "graftc.db.cl")
    assert(o1.nonEmpty, "degraded appends must trigger a re-cluster")
    // the clustered base files survive BY NAME; only the appends re-lay
    val filesAfter = sinks.ManifestTable.filesAt(spark, loc, o1.get).toSet
    assert(cleanFiles.subsetOf(filesAfter),
      "maintenance must not touch the already-clustered files")
    val after = sinks.ManifestTable.read(spark, loc)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "maintenance must be content-identical")
    // a restored layout skips — the no-op proof a scheduled tick needs
    val (o2, _) = sources.v2.GraftMaintenance.maintain(spark, "graftc.db.cl")
    assert(o2.isEmpty, s"second maintenance pass must be a no-op, got $o2")
  }

  test("CALL graftc.system procedures: maintain and vacuum_table run table operations by name from SQL") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-call").toString + "/t"
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val even = docs.filter(col("doc_id") % 2 === 0)
    sinks.ManifestTable.create(
      even.repartitionByRange(6, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), loc, Seq("doc_id"))
    spark.sql(s"CREATE TABLE graftc.db.proc USING graft LOCATION '$loc' " +
      "TBLPROPERTIES ('clusterBy' = 'doc_id', " +
      "'smallFileBytes' = '0', 'wideFactor' = '3', " +
      "'bloomIndex' = 'doc_id')")
    // degrade, then CALL maintain — it must re-cluster AND build blooms
    sinks.ManifestTable.write(
      docs.filter(col("doc_id") % 2 === 1).coalesce(1), loc)
    val r1 = spark.sql("CALL graftc.system.maintain('db.proc')").collect()
    assert(r1.length == 1)
    assert(!r1.head.isNullAt(0), "degraded layout must re-cluster")
    assert(r1.head.getInt(1) == 1, "the declared bloom must build")
    // second call: nothing to re-cluster, blooms already cover
    val r2 = spark.sql("CALL graftc.system.maintain('db.proc')").collect()
    assert(r2.head.isNullAt(0) && r2.head.getInt(1) == 0,
      s"restored table must be a no-op, got ${r2.head}")
    // content intact after maintenance
    val after = sinks.ManifestTable.read(spark, loc)
    assert(after.exceptAll(docs).isEmpty && docs.exceptAll(after).isEmpty)
    // vacuum_table drops history beyond keep and reports retention
    val nVersions = sinks.ManifestTable.versions(spark, loc).size
    assert(nVersions >= 3)
    val v = spark.sql("CALL graftc.system.vacuum_table('db.proc', 1)")
      .collect().head
    assert(v.getInt(1) == 1, s"one version retained, got $v")
    assert(sinks.ManifestTable.versions(spark, loc).size == 1)
    assert(spark.sql("SELECT count(*) FROM graftc.db.proc").head().getLong(0)
      == docs.count())
    // declared RETENTION: with keepVersions a property, the tick
    // bounds history by policy — no separate vacuum call needed
    spark.sql("ALTER TABLE graftc.db.proc " +
      "SET TBLPROPERTIES ('keepVersions' = '1')")
    spark.sql("INSERT INTO graftc.db.proc VALUES " +
      "(1000001, 'zz', 5), (1000002, 'zz', 6)")
    assert(sinks.ManifestTable.versions(spark, loc).size >= 2)
    spark.sql("CALL graftc.system.maintain('db.proc')").collect(): Unit
    assert(sinks.ManifestTable.versions(spark, loc).size == 1,
      "the declared keepVersions must bound history on the tick")
    assert(spark.sql("SELECT count(*) FROM graftc.db.proc").head().getLong(0)
      == docs.count() + 2)
  }

  test("CALL restore_table / clone_table: version restore and shallow clone by name from SQL") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-restore").toString + "/t"
    sinks.ManifestTable.create(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), loc, Seq("k"))
    spark.sql(s"CREATE TABLE graftc.db.rt USING graft LOCATION '$loc'")
    spark.sql("INSERT INTO graftc.db.rt VALUES (3, 'c')")
    spark.sql("DELETE FROM graftc.db.rt WHERE k = 1")
    assert(spark.sql("SELECT count(*) FROM graftc.db.rt").head().getLong(0) == 2L)
    // restore to the original content — a normal commit, history intact
    val r = spark.sql("CALL graftc.system.restore_table('db.rt', 0)")
      .collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 3L, s"unexpected $r")
    assert(spark.sql("SELECT k FROM graftc.db.rt ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(spark.sql("SELECT count(*) FROM graftc.db.rt VERSION AS OF 2")
      .head().getLong(0) == 2L, "pre-restore versions stay travelable")
    // shallow clone: registered, readable, shares the source's files
    val c = spark.sql("CALL graftc.system.clone_table('db.rt', 'db.rt2')")
      .collect().head
    assert(c.getLong(1) > 0L)
    assert(spark.sql("SELECT k FROM graftc.db.rt2 ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(sinks.ManifestTable.filesAt(spark, c.getString(0), 0L) ==
      sinks.ManifestTable.filesAt(spark, loc, 3L),
      "the clone must reference the source's files, not copies")
    // the clone is independent for writes
    spark.sql("INSERT INTO graftc.db.rt2 VALUES (9, 'z')")
    assert(spark.sql("SELECT count(*) FROM graftc.db.rt2").head().getLong(0) == 3L)
    assert(spark.sql("SELECT count(*) FROM graftc.db.rt").head().getLong(0) == 2L)
    // CALL optimize_table: the explicit full re-lay by name — content
    // identical, the requested file count, a fresh version
    val o = spark.sql(
      "CALL graftc.system.optimize_table('db.rt2', 'k', 1)").collect().head
    assert(o.getLong(1) == 1L, s"one output file requested, got $o")
    assert(spark.sql("SELECT k FROM graftc.db.rt2 ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 9L))
  }

  test("deleteMode/updateMode = merge-on-read: SQL DELETE and UPDATE commit deletion vectors, not rewrites") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-mor").toString + "/t"
    sinks.ManifestTable.create(
      spark.range(100).select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(2, col("k")).sortWithinPartitions(col("k")),
      loc, Seq("k"))
    spark.sql(s"CREATE TABLE graftc.db.mor USING graft LOCATION '$loc' " +
      "TBLPROPERTIES ('deleteMode' = 'merge-on-read', " +
      "'updateMode' = 'merge-on-read')")
    val files0 = sinks.ManifestTable.filesAt(spark, loc, 0L).toSet
    spark.sql("DELETE FROM graftc.db.mor WHERE k = 7")
    spark.sql("UPDATE graftc.db.mor SET v = v + 100 WHERE k = 8")
    // the declared mode routed both statements onto the vector grain:
    // every original file still lives BY NAME (a copy-on-write delete
    // or update would have replaced the touched file)
    assert(files0.subsetOf(
      sinks.ManifestTable.filesAt(spark, loc, 2L).toSet),
      "merge-on-read SQL must not rewrite data files")
    assert(sinks.ManifestTable.manifest(spark, loc, 2L)
      .filter(col("dv_path").isNotNull).count() >= 1L)
    val got = spark.sql("SELECT k, v FROM graftc.db.mor").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 99 && !got.contains(7L) && got(8L) == 8L % 7 + 100L)
    // MERGE INTO under mergeMode: the upsert vectors + appends too
    spark.sql("ALTER TABLE graftc.db.mor " +
      "SET TBLPROPERTIES ('mergeMode' = 'merge-on-read')")
    Seq((9L, 900L), (300L, 300L)).toDF("k", "v")
      .createOrReplaceTempView("mor_src")
    val filesBefore = sinks.ManifestTable.filesAt(spark, loc,
      sinks.ManifestTable.latestVersion(spark, loc)).toSet
    spark.sql("""MERGE INTO graftc.db.mor AS t USING mor_src AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(filesBefore.subsetOf(sinks.ManifestTable.filesAt(spark, loc,
      sinks.ManifestTable.latestVersion(spark, loc)).toSet),
      "merge-on-read MERGE INTO must not rewrite data files")
    val got2 = spark.sql("SELECT k, v FROM graftc.db.mor").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.size == 100 && got2(9L) == 900L && got2(300L) == 300L)
    // an undeclared table keeps the copy-on-write default
    val loc2 = java.nio.file.Files
      .createTempDirectory("graft-catalog-cow").toString + "/t"
    sinks.ManifestTable.create(
      spark.range(10).select(col("id").as("k")), loc2, Seq("k"))
    spark.sql(s"CREATE TABLE graftc.db.cow USING graft LOCATION '$loc2'")
    spark.sql("DELETE FROM graftc.db.cow WHERE k = 3")
    assert(sinks.ManifestTable.manifest(spark, loc2,
      sinks.ManifestTable.latestVersion(spark, loc2))
      .filter(col("dv_path").isNotNull).count() == 0L,
      "default DELETE stays copy-on-write")
  }

  test("storage-partitioned join: co-bucketed tables equi-join with NO shuffle; results match the shuffled plan") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.spj_a (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k)) TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql("CREATE TABLE graftc.db.spj_b (k BIGINT, w STRING) " +
      "PARTITIONED BY (bucket(8, k)) TBLPROPERTIES ('statsCols' = 'k')")
    spark.range(2000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .writeTo("graftc.db.spj_a").append()
    spark.range(500, 1500)
      .select(col("id").as("k"), concat(lit("w"), col("id")).as("w"))
      .writeTo("graftc.db.spj_b").append()
    // the layout is real: every landed file lives in one bucket dir,
    // at most 8 files per landing, and the manifest records buckets
    val locA = s"$warehouse/tables/db/spj_a"
    val vA = sinks.ManifestTable.latestVersion(spark, locA)
    val files = sinks.ManifestTable.filesAt(spark, locA, vA)
    assert(files.nonEmpty && files.size <= 8,
      s"one bucketed landing writes at most n files, got ${files.size}")
    assert(files.forall(_.contains("gb=")),
      "bucketed files must land under their bucket directory")
    val q =
      """SELECT a.k AS k, a.v AS v, b.w AS w
        |FROM graftc.db.spj_a a JOIN graftc.db.spj_b b ON a.k = b.k
        |ORDER BY k""".stripMargin
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.v2.bucketing.pushPartValues.enabled",
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      // the control run: bucketing OFF → ordinary shuffled join
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffled = spark.sql(q)
      assert(shuffled.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "control run must shuffle — otherwise the proof proves nothing")
      val want = shuffled.collect().map(_.toString).toSeq
      // with v2 bucketing DISABLED the grouping would be pure
      // parallelism loss (Spark ignores reported partitionings), so
      // the scan must keep ordinary split-parallel file partitions —
      // a non-join aggregate on a bucketed table is never capped at
      // n tasks unless the session opted into alignment
      val ctrlParts = physicalPlan(shuffled).collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b.partitions.flatten }.flatten
      assert(ctrlParts.nonEmpty && ctrlParts.forall(
        !_.isInstanceOf[sources.v2.GraftBucketPartition]),
        "bucketing disabled must plan split-parallel, not bucket-grained")
      // the storage-partitioned run: SAME query, ZERO exchanges on
      // either join side
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.v2.bucketing.pushPartValues.enabled", "true")
      val spj = spark.sql(q)
      val p = spj.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"co-bucketed equi-join must not shuffle:\n$p")
      assert(spj.collect().map(_.toString).toSeq == want,
        "the shuffle-free plan must return exactly the shuffled answer")
      // DELETION VECTORS must not cost the table its joins: a MoR
      // delete on one side, and the composite DV scan's partitions
      // regroup by bucket — still zero exchanges, values minus the
      // deleted key
      sinks.ManifestTable.deleteWhereMor(spark, locA, col("k") === 700L)
      val spjDv = spark.sql(q)
      val pDv = spjDv.queryExecution.executedPlan.toString
      assert(!pDv.contains("Exchange hashpartitioning"),
        s"a vectored snapshot must keep its storage-partitioned join:\n$pDv")
      assert(spjDv.collect().map(_.toString).toSeq ==
        want.filterNot(_.startsWith("[700,")),
        "the vectored shuffle-free join must serve the post-delete rows")
      // RENAME of the bucket key is metadata-only and the join (on
      // the new name) stays shuffle-free — the reported transform
      // follows the logical name, the layout the frozen physical one
      spark.sql("ALTER TABLE graftc.db.spj_a RENAME COLUMN k TO key")
      val spjRn = spark.sql(
        """SELECT a.key AS k, a.v AS v, b.w AS w
          |FROM graftc.db.spj_a a JOIN graftc.db.spj_b b ON a.key = b.k
          |ORDER BY k""".stripMargin)
      assert(!spjRn.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "the renamed bucket key must keep the storage-partitioned join")
      assert(spjRn.collect().map(_.toString).toSeq ==
        want.filterNot(_.startsWith("[700,")))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    // layout governance: the bucket key cannot be dropped (it was
    // renamed to `key` above — the guard follows the rename)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graftc.db.spj_a DROP COLUMN key")
    }
    assert(e.getMessage.contains("bucket key"))
  }

  test("SPJ generality: multi-column and date/decimal bucket keys join shuffle-free; partially-clustered distribution keeps a skewed bucket parallel") {
    warehouse: Unit
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    def noExchange(df: org.apache.spark.sql.DataFrame, what: String)
        : Unit = {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"$what must not shuffle:\n$p")
    }
    // ---- multi-column key, one column DECIMAL: the bucket is the
    // seed-chained hash of the whole (k1, k2) tuple
    spark.sql("CREATE TABLE graftc.db.spjm_a " +
      "(k1 BIGINT, k2 DECIMAL(10,2), v BIGINT) " +
      "PARTITIONED BY (bucket(4, k1, k2)) TBLPROPERTIES ('statsCols' = 'k1')")
    spark.sql("CREATE TABLE graftc.db.spjm_b " +
      "(k1 BIGINT, k2 DECIMAL(10,2), w STRING) " +
      "PARTITIONED BY (bucket(4, k1, k2))")
    spark.range(800).select((col("id") % 40).as("k1"),
        (col("id") % 25).cast("decimal(10,2)").as("k2"),
        (col("id") * 3).as("v"))
      .writeTo("graftc.db.spjm_a").append()
    spark.range(400).select((col("id") % 40).as("k1"),
        (col("id") % 25).cast("decimal(10,2)").as("k2"),
        concat(lit("w"), col("id")).as("w"))
      .writeTo("graftc.db.spjm_b").append()
    val qm =
      """SELECT a.k1 AS k1, a.k2 AS k2, a.v AS v, b.w AS w
        |FROM graftc.db.spjm_a a JOIN graftc.db.spjm_b b
        |  ON a.k1 = b.k1 AND a.k2 = b.k2
        |ORDER BY k1, k2, v, w""".stripMargin
    // ---- date key (API-declared layout this time)
    val dloc = s"$warehouse/tables/db/spjd"
    def dated(n: Int) = spark.range(n).select(
      org.apache.spark.sql.functions.date_add(
        org.apache.spark.sql.functions.to_date(lit("2026-01-01")),
        (col("id") % 60).cast("int")).as("d"),
      col("id").as("v"))
    sinks.ManifestTable.create(dated(600), s"$dloc/a", Seq("v"),
      bucketBy = Some(("d", 4)))
    sinks.ManifestTable.create(dated(300), s"$dloc/b", Seq("v"),
      bucketBy = Some(("d", 4)))
    spark.sql(s"CREATE TABLE graftc.db.spjd_a USING graft LOCATION '$dloc/a'")
    spark.sql(s"CREATE TABLE graftc.db.spjd_b USING graft LOCATION '$dloc/b'")
    val qd =
      """SELECT a.d AS d, a.v AS va, b.v AS vb
        |FROM graftc.db.spjd_a a JOIN graftc.db.spjd_b b ON a.d = b.d
        |ORDER BY d, va, vb""".stripMargin
    // ---- skewed bucket: one hot key dominates; FOUR separate
    // landings give the hot bucket four files (splits)
    val sloc = s"$warehouse/tables/db/spjs"
    def skewed(tag: Long) = spark.range(2000).select(
      when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
      (col("id") * 10 + tag).as("v"))
    sinks.ManifestTable.create(skewed(0), s"$sloc/a", Seq("k"),
      bucketBy = Some(("k", 4)))
    (1L to 3L).foreach(t =>
      sinks.ManifestTable.write(skewed(t), s"$sloc/a"))
    sinks.ManifestTable.create(
      spark.range(2000).select(col("id").as("k"),
        concat(lit("n"), col("id")).as("name")),
      s"$sloc/b", Seq("k"), bucketBy = Some(("k", 4)))
    spark.sql(s"CREATE TABLE graftc.db.spjs_a USING graft LOCATION '$sloc/a'")
    spark.sql(s"CREATE TABLE graftc.db.spjs_b USING graft LOCATION '$sloc/b'")
    val qs =
      """SELECT a.k AS k, a.v AS v, b.name AS name
        |FROM graftc.db.spjs_a a JOIN graftc.db.spjs_b b ON a.k = b.k
        |ORDER BY k, v, name""".stripMargin
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // controls: bucketing off → every join shuffles; capture truth
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val wantM = spark.sql(qm).collect().map(_.toString).toSeq
      val wantD = spark.sql(qd).collect().map(_.toString).toSeq
      val wantS = spark.sql(qs).collect().map(_.toString).toSeq
      assert(spark.sql(qm).queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"), "control must shuffle")
      // SPJ on: multi-column and date keys both resolve the bucket
      // transform and join with zero exchanges
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      val spjM = spark.sql(qm)
      noExchange(spjM, "the multi-column co-bucketed join")
      assert(spjM.collect().map(_.toString).toSeq == wantM)
      val spjD = spark.sql(qd)
      noExchange(spjD, "the date-keyed co-bucketed join")
      assert(spjD.collect().map(_.toString).toSeq == wantD)
      // fully-clustered baseline on the skewed pair: n tasks
      val spjS0 = spark.sql(qs)
      noExchange(spjS0, "the skewed co-bucketed join")
      assert(spjS0.collect().map(_.toString).toSeq == wantS)
      val grouped = physicalPlan(spjS0).collect {
        case b: BatchScanExec => b.inputRDD.getNumPartitions }.max
      assert(grouped <= 4,
        s"fully-clustered groups to <= n tasks, got $grouped")
      // partially-clustered: the hot bucket's four files stay FOUR
      // tasks (the small side replicates over them) — still no
      // exchange, same answer, more parallelism than buckets
      spark.conf.set("spark.sql.sources.v2.bucketing." +
        "partiallyClusteredDistribution.enabled", "true")
      val spjS = spark.sql(qs)
      noExchange(spjS, "the partially-clustered skewed join")
      assert(spjS.collect().map(_.toString).toSeq == wantS,
        "partially-clustered must return exactly the shuffled answer")
      val parts = physicalPlan(spjS).collect {
        case b: BatchScanExec => b.inputRDD.getNumPartitions }.max
      assert(parts > 4,
        s"a skewed bucket must stay split under partially-clustered " +
          s"distribution, got $parts partitions")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("type widening: metadata-only, files verbatim; narrowing/bucket keys refuse; a stale bloom index drops") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-widen").toString + "/t"
    sinks.ManifestTable.create(
      spark.range(1000).select(col("id").cast("int").as("k"),
        (col("id") % 50).cast("float").as("v")),
      loc, Seq("k"))
    // a bloom on the to-be-widened column: its bits hash int values —
    // they must DROP with the widen, or wide probes would falsely
    // exclude files
    val bk = sinks.ManifestTable.bloomCol("k")
    def bits(v: Long): Option[Long] = {
      val m = sinks.ManifestTable.manifest(spark, loc, v)
      if (!m.columns.contains(bk)) None
      else Some(m.filter(col(bk).isNotNull).count())
    }
    sinks.ManifestTable.buildBloom(spark, root = loc, keyCol = "k")
    assert(bits(sinks.ManifestTable.latestVersion(spark, loc)) ==
      Some(sinks.ManifestTable.filesAt(spark, loc, 0).size.toLong))
    spark.sql(s"CREATE TABLE graftc.db.widen USING graft LOCATION '$loc'")
    val files0 = sinks.ManifestTable.filesAt(spark, loc, 0)
    spark.sql("ALTER TABLE graftc.db.widen ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE graftc.db.widen ALTER COLUMN v TYPE DOUBLE")
    val v2 = sinks.ManifestTable.latestVersion(spark, loc)
    assert(sinks.ManifestTable.filesAt(spark, loc, v2) == files0,
      "widening must rewrite nothing")
    assert(bits(v2).isEmpty,
      "the narrow-hashed bloom bits must drop with the widen")
    // old int32 pages upcast per file; a post-widen insert lands wide
    spark.sql("INSERT INTO graftc.db.widen " +
      "SELECT 5000000000, CAST(1.5 AS DOUBLE)")
    assert(spark.sql("SELECT sum(k) FROM graftc.db.widen")
      .head().getLong(0) == (0L until 1000L).sum + 5000000000L)
    // envelope stats cast with the commit: a point probe still prunes
    assert(spark.sql(
      "SELECT count(*) FROM graftc.db.widen WHERE k = 5000000000")
      .head().getLong(0) == 1L)
    // a rebuild indexes every live file — narrow pages upcast to the
    // wide type they are probed with — and bloom-pruned probes stay exact
    assert(sinks.ManifestTable.buildBloom(spark, loc, "k").nonEmpty)
    val v3 = sinks.ManifestTable.latestVersion(spark, loc)
    assert(bits(v3) ==
      Some(sinks.ManifestTable.filesAt(spark, loc, v3).size.toLong))
    Seq(7L, 999L, 5000000000L).foreach(k => assert(spark.sql(
      s"SELECT count(*) FROM graftc.db.widen WHERE k = $k")
      .head().getLong(0) == 1L, s"k = $k"))
    // time travel reads the old version under its own (narrow) type
    assert(spark.sql("SELECT k FROM graftc.db.widen VERSION AS OF 0 " +
      "WHERE k = 7").schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // narrowing refuses (Spark's own up-cast check or the format's
    // widening guard — either way the type must not move)
    intercept[Exception] {
      spark.sql("ALTER TABLE graftc.db.widen ALTER COLUMN k TYPE INT")
    }
    assert(spark.sql("SELECT k FROM graftc.db.widen WHERE k = 7")
      .schema("k").dataType == org.apache.spark.sql.types.LongType,
      "a refused narrowing must leave the wide type in place")
    // NESTED member widening: same metadata-only contract one level
    // down (no stat triplets/blooms/bucket keys live at nested paths)
    val nloc = java.nio.file.Files
      .createTempDirectory("graft-widen-n").toString + "/t"
    sinks.ManifestTable.create(
      spark.range(100).select(col("id").as("k"),
        struct(col("id").cast("int").as("n"),
          concat(lit("t"), col("id")).as("s")).as("m")),
      nloc, Seq("k"))
    spark.sql(s"CREATE TABLE graftc.db.widenn USING graft LOCATION '$nloc'")
    val nfiles0 = sinks.ManifestTable.filesAt(spark, nloc, 0)
    spark.sql("ALTER TABLE graftc.db.widenn ALTER COLUMN m.n TYPE BIGINT")
    assert(sinks.ManifestTable.filesAt(spark, nloc,
      sinks.ManifestTable.latestVersion(spark, nloc)) == nfiles0,
      "a nested widen must rewrite nothing")
    spark.sql("INSERT INTO graftc.db.widenn " +
      "SELECT 1000L, named_struct('n', 6000000000, 's', 'w')")
    assert(spark.sql("SELECT sum(m.n) FROM graftc.db.widenn")
      .head().getLong(0) == (0L until 100L).sum + 6000000000L,
      "narrow pages and the wide insert must read under one type")

    // a bucket key's type is frozen with the layout
    val bloc = java.nio.file.Files
      .createTempDirectory("graft-widen-b").toString + "/t"
    sinks.ManifestTable.create(
      spark.range(100).select(col("id").cast("int").as("k"),
        col("id").as("v")),
      bloc, Seq("k"), bucketBy = Some(("k", 4)))
    val e2 = intercept[Exception] {
      sinks.ManifestTable.widenColumnType(spark, bloc, "k",
        org.apache.spark.sql.types.LongType)
    }
    assert(e2.getMessage.contains("bucket key"))
  }

  test("the per-column bucket declaration the table itself reports round-trips through CREATE TABLE") {
    warehouse: Unit
    // PARTITIONED BY (bucket(4, k1), bucket(4, k2)) — exactly the
    // shape partitioning() reports for a multi-key table, so DDL
    // regenerated from a table's own metadata re-creates it
    spark.sql("CREATE TABLE graftc.db.spjrt " +
      "(k1 BIGINT, k2 BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k1), bucket(4, k2))")
    spark.range(100).select((col("id") % 10).as("k1"),
        (col("id") % 7).as("k2"), col("id").as("v"))
      .writeTo("graftc.db.spjrt").append()
    val loc = s"$warehouse/tables/db/spjrt"
    assert(sinks.ManifestTable.bucketSpec(
      sinks.ManifestTable.tableSchema(spark, loc,
        sinks.ManifestTable.latestVersion(spark, loc)))
      .contains((Seq("k1", "k2"), 4)))
    assert(spark.sql("SELECT sum(v) FROM graftc.db.spjrt")
      .head().getLong(0) == (0L until 100L).sum)
    // mismatched per-column counts refuse (one grid, one n)
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graftc.db.spjrt2 (a BIGINT, b BIGINT) " +
        "PARTITIONED BY (bucket(4, a), bucket(8, b))")
    }
    assert(e.getMessage.contains("SAME count"))
  }

  test("storage-partitioned shuffle: joining a bucketed table with a plain frame shuffles ONLY the plain side") {
    warehouse: Unit
    val loc = s"$warehouse/tables/db/spjsh"
    sinks.ManifestTable.create(
      spark.range(4000).select(col("id").as("k"), (col("id") * 7).as("v")),
      loc, Seq("k"), bucketBy = Some(("k", 4)))
    spark.sql(s"CREATE TABLE graftc.db.spjsh USING graft LOCATION '$loc'")
    spark.range(100)
      .select(col("id").as("k"), concat(lit("p"), col("id")).as("name"))
      .createOrReplaceTempView("spjsh_plain")
    val q =
      """SELECT t.k AS k, t.v AS v, p.name AS name
        |FROM graftc.db.spjsh t JOIN spjsh_plain p ON t.k = p.k""".stripMargin
    def exchanges(p: String): Int =
      "Exchange ".r.findAllIn(p).length
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.shuffle.enabled",
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val ctrl = spark.sql(q)
      val want = ctrl.collect().map(_.toString).sorted.toSeq
      assert(exchanges(ctrl.queryExecution.executedPlan.toString) == 2,
        "control must shuffle BOTH sides")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      val one = spark.sql(q)
      val p = one.queryExecution.executedPlan.toString
      // the plain side shuffles INTO the table's bucket layout (the
      // catalog-served function evaluates write-identically); the
      // bucketed side reads in place — one exchange total
      assert(exchanges(p) == 1,
        s"only the plain side may shuffle:\n$p")
      assert(one.collect().map(_.toString).sorted.toSeq == want,
        "the one-sided shuffle must return exactly the control answer")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("mergeMode = equality-delete: the pure-upsert SQL MERGE commits keys only; general shapes fall back to vectors") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-eq").toString + "/t"
    sinks.ManifestTable.create(
      spark.range(100).select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(2, col("k")).sortWithinPartitions(col("k")),
      loc, Seq("k"))
    spark.sql(s"CREATE TABLE graftc.db.eqm USING graft LOCATION '$loc' " +
      "TBLPROPERTIES ('mergeMode' = 'equality-delete')")
    Seq((5L, 555L), (200L, 200L)).toDF("k", "v")
      .createOrReplaceTempView("eqm_src")
    spark.sql("""MERGE INTO graftc.db.eqm AS t USING eqm_src AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    // the upsert landed as keys + batch: pending registry, no vectors
    // written, no files rewritten — the zero-target-read commit
    val v1 = sinks.ManifestTable.latestVersion(spark, loc)
    assert(sinks.ManifestTable.hasPendingEq(spark, loc, v1),
      "the declared eq grain must commit an equality delete")
    assert(sinks.ManifestTable.manifest(spark, loc, v1)
      .filter(col("dv_path").isNotNull).count() == 0L)
    val got = spark.sql("SELECT k, v FROM graftc.db.eqm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 101 && got(5L) == 555L && got(200L) == 200L)
    // a general clause shape (conditional matched delete) must still
    // work — served at the vector grain, which also folds the pending
    // delete into its commit
    spark.sql("""MERGE INTO graftc.db.eqm AS t USING eqm_src AS s
      ON t.k = s.k
      WHEN MATCHED AND t.k = 200 THEN DELETE""")
    val v2 = sinks.ManifestTable.latestVersion(spark, loc)
    assert(!sinks.ManifestTable.hasPendingEq(spark, loc, v2),
      "the general-shape fallback materializes pending deletes")
    val got2 = spark.sql("SELECT k, v FROM graftc.db.eqm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.size == 100 && got2(5L) == 555L && !got2.contains(200L))
    // CALL compact_eq materializes a fresh pending delete by name and
    // reports the committed version; the second CALL is the no-op NULL
    spark.sql("""MERGE INTO graftc.db.eqm AS t USING eqm_src AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(sinks.ManifestTable.hasPendingEq(spark, loc,
      sinks.ManifestTable.latestVersion(spark, loc)))
    val cv = spark.sql("CALL graftc.system.compact_eq('db.eqm')").head()
    assert(!cv.isNullAt(0), "a pending table compacts and reports")
    assert(!sinks.ManifestTable.hasPendingEq(spark, loc,
      sinks.ManifestTable.latestVersion(spark, loc)))
    assert(spark.sql("SELECT v FROM graftc.db.eqm WHERE k = 200")
      .head().getLong(0) == 200L)
    assert(spark.sql("CALL graftc.system.compact_eq('db.eqm')")
      .head().isNullAt(0), "nothing pending reports the no-op NULL")
    // the UNCONDITIONAL matched-DELETE-only MERGE is the second
    // zero-read shape: it routes as a pure key delete — the pending
    // registry (and the absence of new vectors) is the proof
    val vPre = sinks.ManifestTable.latestVersion(spark, loc)
    spark.sql("""MERGE INTO graftc.db.eqm AS t USING eqm_src AS s
      ON t.k = s.k
      WHEN MATCHED THEN DELETE""")
    val v3 = sinks.ManifestTable.latestVersion(spark, loc)
    assert(sinks.ManifestTable.hasPendingEq(spark, loc, v3),
      "a matched-DELETE-only MERGE on an eq table must commit keys")
    assert(sinks.ManifestTable.filesAt(spark, loc, v3).toSet ==
      sinks.ManifestTable.filesAt(spark, loc, vPre).toSet,
      "the keyed delete must land no data files and rewrite none")
    val got3 = spark.sql("SELECT k, v FROM graftc.db.eqm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3.size == 99 && !got3.contains(5L) && !got3.contains(200L),
      s"both source keys must be gone, got size ${got3.size}")
  }

  test("nested-column evolution: struct members ADD/RENAME/DROP metadata-only, old versions read under their own sidecars, no resurrection") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-nested").toString + "/t"
    sinks.ManifestTable.create(
      spark.range(100).select(col("id").as("k"),
        struct((col("id") % 5).as("a"),
          concat(lit("t"), col("id")).as("b")).as("s")),
      loc, Seq("k"))
    spark.sql(s"CREATE TABLE graftc.db.nested USING graft LOCATION '$loc'")
    val files0 = sinks.ManifestTable.filesAt(spark, loc, 0)
    // RENAME a nested member: metadata-only, reads follow, filters
    // push through the frozen physical name
    spark.sql("ALTER TABLE graftc.db.nested RENAME COLUMN s.a TO aa")
    assert(sinks.ManifestTable.filesAt(spark, loc,
      sinks.ManifestTable.latestVersion(spark, loc)) == files0,
      "nested rename must rewrite nothing")
    assert(spark.sql(
      "SELECT sum(s.aa) FROM graftc.db.nested").head().getLong(0) ==
      (0L until 100L).map(_ % 5).sum)
    assert(spark.sql(
      "SELECT count(*) FROM graftc.db.nested WHERE s.aa = 3").head()
      .getLong(0) == 20L)
    // ADD a nested member: old rows read NULL; an insert carries it
    spark.sql("ALTER TABLE graftc.db.nested ADD COLUMN s.c BIGINT")
    assert(spark.sql("SELECT count(*) FROM graftc.db.nested " +
      "WHERE s.c IS NULL").head().getLong(0) == 100L)
    spark.sql("INSERT INTO graftc.db.nested " +
      "SELECT 1000L, named_struct('aa', 7L, 'b', 'x', 'c', 9L)")
    assert(spark.sql("SELECT s.c FROM graftc.db.nested WHERE k = 1000")
      .head().getLong(0) == 9L)
    assert(spark.sql("SELECT s.aa FROM graftc.db.nested WHERE k = 1000")
      .head().getLong(0) == 7L,
      "the inserted struct must land under the FROZEN physical names")
    // keyed MERGE through the renamed+widened struct
    spark.sql("SELECT 3L AS k, named_struct('aa', 99L, 'b', 'm', " +
      "'c', 33L) AS s").createOrReplaceTempView("nested_src")
    spark.sql("""MERGE INTO graftc.db.nested AS t USING nested_src AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT s.aa, s.c FROM graftc.db.nested WHERE k = 3")
      .head().toSeq == Seq(99L, 33L))
    // DROP then RE-ADD the same member name: live files still carry
    // the old bytes — the fresh-physical mapping must keep them
    // invisible (no resurrection)
    spark.sql("ALTER TABLE graftc.db.nested DROP COLUMN s.b")
    assert(!spark.sql("SELECT s.* FROM graftc.db.nested")
      .columns.contains("b"))
    spark.sql("ALTER TABLE graftc.db.nested ADD COLUMN s.b STRING")
    assert(spark.sql("SELECT count(*) FROM graftc.db.nested " +
      "WHERE s.b IS NOT NULL").head().getLong(0) == 0L,
      "re-added nested member must NOT resurrect dropped bytes")
    // time travel: the pre-rename version reads its OWN names/values
    val v0 = spark.sql(
      "SELECT s.a FROM graftc.db.nested VERSION AS OF 0 WHERE k = 3")
    assert(v0.head().getLong(0) == 3L,
      "the old version must serve the old nested name and value")
    // the full current state is consistent
    assert(spark.sql("SELECT count(*) FROM graftc.db.nested")
      .head().getLong(0) == 101L)
    // CTAS FROM the nested-evolved table: the carried-over schema's
    // NESTED mapping must strip (the new table's files land under the
    // logical member names — a surviving mapping would request member
    // names those files never carried and read NULL for every row)
    spark.sql("CREATE TABLE graftc.db.nested_ctas AS " +
      "SELECT * FROM graftc.db.nested")
    assert(spark.sql("SELECT count(*) FROM graftc.db.nested_ctas " +
      "WHERE s.aa IS NOT NULL").head().getLong(0) == 101L,
      "CTAS output must serve the evolved member's values, not NULL")
    assert(spark.sql(
      "SELECT s.aa FROM graftc.db.nested_ctas WHERE k = 3")
      .head().getLong(0) == 99L)
  }

  test("metadata tables: SELECT over graftc.db.t.history / .files serves the manifests — zero data I/O surface") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-meta").toString + "/t"
    sinks.ManifestTable.create(
      spark.range(0, 30).select(col("id").as("k"), (col("id") * 3).as("v"))
        .repartitionByRange(3, col("k")).sortWithinPartitions(col("k")),
      loc, Seq("k"))
    sinks.ManifestTable.write(
      spark.range(30, 40).select(col("id").as("k"), (col("id") * 3).as("v")),
      loc)
    spark.sql(s"CREATE TABLE graftc.db.meta USING graft LOCATION '$loc'")
    // history: one row per retained version, counts from metadata
    val hist = spark.sql(
      "SELECT version, n_files, n_rows FROM graftc.db.meta.history " +
        "ORDER BY version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = sinks.ManifestTable.history(spark, loc)
      .select(col("version"), col("n_files"), col("n_rows"))
      .orderBy(col("version")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hist.toSeq == want.toSeq)
    assert(hist.map(_._3).toSeq == Seq(30L, 40L))
    // files: the CURRENT manifest, filterable like any table
    val nf = spark.sql("SELECT count(*) AS n FROM graftc.db.meta.files")
      .head().getLong(0)
    assert(nf == sinks.ManifestTable.filesAt(spark, loc, 1).size.toLong)
    assert(spark.sql(
      "SELECT sum(row_count) FROM graftc.db.meta.files").head().getLong(0)
      == 40L)
    // a real table always wins over the metadata suffix
    assert(spark.sql("SELECT * FROM graftc.db.meta").count() == 40L)
  }

  test("CALL add_constraint / drop_constraint: CHECK invariants gate SQL INSERTs by name") {
    warehouse: Unit
    val loc = java.nio.file.Files
      .createTempDirectory("graft-catalog-cons").toString + "/t"
    sinks.ManifestTable.create(
      Seq((1L, 5L), (2L, 7L)).toDF("k", "v"), loc, Seq("k"))
    spark.sql(s"CREATE TABLE graftc.db.cons USING graft LOCATION '$loc'")
    val a = spark.sql(
      "CALL graftc.system.add_constraint('db.cons', 'v_pos', 'v > 0')")
      .collect().head
    assert(a.getLong(0) > 0L)
    // a violating INSERT refuses with nothing committed
    intercept[Exception] {
      spark.sql("INSERT INTO graftc.db.cons VALUES (3, -1)") }
    assert(spark.sql("SELECT count(*) FROM graftc.db.cons")
      .head().getLong(0) == 2L)
    spark.sql("INSERT INTO graftc.db.cons VALUES (3, 9)")
    assert(spark.sql("SELECT count(*) FROM graftc.db.cons")
      .head().getLong(0) == 3L)
    // SQL UPDATE through the row-level command is gated too
    intercept[Exception] {
      spark.sql("UPDATE graftc.db.cons SET v = -5 WHERE k = 1") }
    assert(spark.sql("SELECT v FROM graftc.db.cons WHERE k = 1")
      .head().getLong(0) == 5L)
    // the registry reads as a metadata view, zero data I/O
    assert(spark.sql(
      "SELECT name, expr FROM graftc.db.cons.constraints").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("v_pos", "v > 0")))
    // dropped by name: the gate lifts
    spark.sql(
      "CALL graftc.system.drop_constraint('db.cons', 'v_pos')").collect()
    spark.sql("INSERT INTO graftc.db.cons VALUES (4, -1)")
    assert(spark.sql("SELECT count(*) FROM graftc.db.cons")
      .head().getLong(0) == 4L)
    // NATIVE ANSI DDL: ALTER TABLE ... ADD CONSTRAINT ... CHECK rides
    // Spark 4.1's constraint surface straight into the same registry
    spark.sql(
      "ALTER TABLE graftc.db.cons ADD CONSTRAINT v_sane CHECK (v > -100)")
    assert(spark.sql(
      "SELECT name FROM graftc.db.cons.constraints").collect()
      .map(_.getString(0)).toSeq == Seq("v_sane"))
    intercept[Exception] {
      spark.sql("INSERT INTO graftc.db.cons VALUES (5, -500)") }
    assert(spark.sql("SELECT count(*) FROM graftc.db.cons")
      .head().getLong(0) == 4L)
    spark.sql("INSERT INTO graftc.db.cons VALUES (5, -50)")
    spark.sql("ALTER TABLE graftc.db.cons DROP CONSTRAINT v_sane")
    spark.sql("INSERT INTO graftc.db.cons VALUES (6, -500)")
    assert(spark.sql("SELECT count(*) FROM graftc.db.cons")
      .head().getLong(0) == 6L)
    // IF EXISTS swallows the unknown name; the bare form refuses
    spark.sql("ALTER TABLE graftc.db.cons DROP CONSTRAINT IF EXISTS nope")
    intercept[Exception] {
      spark.sql("ALTER TABLE graftc.db.cons DROP CONSTRAINT nope") }
    // NOT ENFORCED refuses: silently promoting it to enforced (or
    // landing it unvalidated) would both betray the declaration
    intercept[Exception] { spark.sql("ALTER TABLE graftc.db.cons " +
      "ADD CONSTRAINT ne CHECK (v > 0) NOT ENFORCED") }
    // CREATE TABLE with an inline CHECK lands the registry atomically
    spark.sql("CREATE TABLE graftc.db.consc (k BIGINT, v BIGINT, " +
      "CONSTRAINT v_pos CHECK (v > 0)) USING graft")
    intercept[Exception] {
      spark.sql("INSERT INTO graftc.db.consc VALUES (1, -1)") }
    spark.sql("INSERT INTO graftc.db.consc VALUES (1, 1)")
    assert(spark.sql("SELECT count(*) FROM graftc.db.consc")
      .head().getLong(0) == 1L)
  }

  test("column DEFAULTs: inline CREATE, INSERT fill, ADD COLUMN existence default, SET/DROP DEFAULT") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.dflt " +
      "(k BIGINT, v BIGINT DEFAULT 7) USING graft")
    spark.sql("INSERT INTO graftc.db.dflt (k) VALUES (1)")
    spark.sql("INSERT INTO graftc.db.dflt VALUES (2, DEFAULT)")
    spark.sql("INSERT INTO graftc.db.dflt VALUES (3, 30)")
    def m() = spark.sql("SELECT k, v FROM graftc.db.dflt").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m() == Map(1L -> 7L, 2L -> 7L, 3L -> 30L))
    // evolve WITH a default: pre-evolution rows read the EXISTENCE
    // default for the absent column — served by the parquet readers'
    // existence-default fill through the delegated vectorized scan,
    // zero data rewrites — and new inserts fill the CURRENT default
    spark.sql(
      "ALTER TABLE graftc.db.dflt ADD COLUMN w STRING DEFAULT 'z'")
    def w(k: Long) = spark.sql(
      s"SELECT w FROM graftc.db.dflt WHERE k = $k").head()
    assert(w(1L).getString(0) == "z",
      "a pre-evolution row must read the existence default, not NULL")
    spark.sql("INSERT INTO graftc.db.dflt (k) VALUES (4)")
    assert(w(4L).getString(0) == "z")
    assert(m()(4L) == 7L, "the older default fills alongside")
    // SET DEFAULT changes FUTURE inserts only: the existence snapshot
    // pre-evolution rows read stays what the ADD declared
    spark.sql(
      "ALTER TABLE graftc.db.dflt ALTER COLUMN w SET DEFAULT 'y'")
    spark.sql("INSERT INTO graftc.db.dflt (k) VALUES (5)")
    assert(w(5L).getString(0) == "y")
    assert(w(1L).getString(0) == "z",
      "SET DEFAULT must not rewrite what existing rows read")
    // DROP DEFAULT: future short inserts take NULL again
    spark.sql("ALTER TABLE graftc.db.dflt ALTER COLUMN w DROP DEFAULT")
    spark.sql("INSERT INTO graftc.db.dflt (k) VALUES (6)")
    assert(w(6L).isNullAt(0))
    // time travel: the pre-evolution version has no w at all
    assert(!spark.sql("SELECT * FROM graftc.db.dflt VERSION AS OF 3")
      .columns.contains("w"))
  }

  test("write-audit-publish in pure SQL: CALL create_branch, DML on db.t.<branch>, VERSION AS OF refs, publish, refs table") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.wap (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql("INSERT INTO graftc.db.wap VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("CALL graftc.system.create_tag('db.wap', 'before_fix')")
    spark.sql("CALL graftc.system.create_branch('db.wap', 'fix')")

    // the branch identifier takes the FULL DML surface
    spark.sql("INSERT INTO graftc.db.wap.fix VALUES (4, 'd')")
    spark.sql("DELETE FROM graftc.db.wap.fix WHERE k = 1")
    spark.sql("UPDATE graftc.db.wap.fix SET v = 'B' WHERE k = 2")

    // audit isolation: main unchanged; both ref-read surfaces agree
    assert(spark.sql("SELECT * FROM graftc.db.wap").count() == 3)
    val branchRows = spark.sql(
      "SELECT * FROM graftc.db.wap VERSION AS OF 'fix' ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(branchRows == Seq((2L, "B"), (3L, "c"), (4L, "d")))
    assert(spark.sql("SELECT * FROM graftc.db.wap.fix ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      branchRows)

    // the refs metadata table lists both refs
    val refs = spark.sql(
      "SELECT name, type FROM graftc.db.wap.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(refs == Seq(("before_fix", "tag"), ("fix", "branch")))

    // PUBLISH: main fast-forwards to the audited state in ONE commit
    spark.sql("CALL graftc.system.publish_branch('db.wap', 'fix')")
    assert(spark.sql("SELECT * FROM graftc.db.wap ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      branchRows)
    // the tag still reads the pre-fix state
    assert(spark.sql(
      "SELECT * FROM graftc.db.wap VERSION AS OF 'before_fix'")
      .count() == 3)

    // drop_ref reclaims; an unknown ref read fails with the contract
    spark.sql("CALL graftc.system.drop_ref('db.wap', 'fix')")
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graftc.db.wap VERSION AS OF 'fix'")
        .collect()
    }
    assert(err.getMessage.contains("no ref"))
  }

  test("materialized views in SQL: CALL create_mv builds a SELECTable table, refresh_mv folds only the changed groups") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.mvbase (k BIGINT, g STRING, " +
      "v BIGINT) TBLPROPERTIES ('statsCols' = 'k,g')")
    // one INSERT (→ its own files) per group: the changed-file delta
    // stays group-aligned, making the recomputed count deterministic
    spark.sql("INSERT INTO graftc.db.mvbase VALUES (1, 'a', 10), (2, 'a', 20)")
    spark.sql("INSERT INTO graftc.db.mvbase VALUES (3, 'b', 30)")
    spark.sql("CALL graftc.system.create_mv('db.mv_byg', 'db.mvbase', " +
      "'SELECT g, count(*) AS n, sum(v) AS total, max(v) AS top " +
      "FROM __BASE__ GROUP BY g', 'g')")
    def mv() = spark.sql("SELECT * FROM graftc.db.mv_byg ORDER BY g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(mv() == Seq(("a", 2L, 30L, 20L), ("b", 1L, 30L, 30L)))

    // mutate ONE group; the refresh reports exactly one recomputed
    spark.sql("DELETE FROM graftc.db.mvbase WHERE k = 2")
    val out = spark.sql("CALL graftc.system.refresh_mv('db.mv_byg')")
      .collect().head
    assert(out.getLong(1) == 1L, s"expected 1 recomputed group: $out")
    assert(mv() == Seq(("a", 1L, 10L, 10L), ("b", 1L, 30L, 30L)))

    // a no-move refresh reports NULLs (nothing committed)
    val idle = spark.sql("CALL graftc.system.refresh_mv('db.mv_byg')")
      .collect().head
    assert(idle.isNullAt(0) && idle.isNullAt(1))

    // JOIN definition by name: the dims argument declares the
    // placeholder + equi-join keys; a dim-side change refreshes
    // through the same procedure
    spark.sql("CREATE TABLE graftc.db.mvdim (g STRING, label STRING) " +
      "TBLPROPERTIES ('statsCols' = 'g')")
    spark.sql("INSERT INTO graftc.db.mvdim VALUES ('a', 'L-a'), ('b', 'L-b')")
    spark.sql("CALL graftc.system.create_mv('db.mv_joined', 'db.mvbase', " +
      "'SELECT label, sum(v) AS total FROM __BASE__ f " +
      "JOIN __DIM_d__ s ON f.g = s.g GROUP BY label', 'label', " +
      "dims => 'd=db.mvdim ON g=g')")
    def mvj() = spark.sql("SELECT * FROM graftc.db.mv_joined ORDER BY label")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(mvj() == Seq(("L-a", 10L), ("L-b", 30L)))
    spark.sql("DELETE FROM graftc.db.mvdim WHERE g = 'b'")
    spark.sql("INSERT INTO graftc.db.mvdim VALUES ('b', 'X-b')")
    val outJ = spark.sql("CALL graftc.system.refresh_mv('db.mv_joined')")
      .collect().head
    assert(outJ.getLong(1) == 2L,
      s"L-b vanishes and X-b appears — 2 recomputed groups: $outJ")
    assert(mvj() == Seq(("L-a", 10L), ("X-b", 30L)))

    // SNOWFLAKE definition by name (`FROM parent` in dims) with an
    // EXPRESSION key (`key_exprs`): group by a dim-of-dim label and
    // an abs() bucket of the fact value; a dim-of-dim relabel folds
    // through one refresh_mv
    spark.sql("CREATE TABLE graftc.db.mvdim2 (label STRING, fam STRING) " +
      "TBLPROPERTIES ('statsCols' = 'label')")
    // labels as of NOW: 'a' -> 'L-a', 'b' -> 'X-b' (relabeled above)
    spark.sql(
      "INSERT INTO graftc.db.mvdim2 VALUES ('L-a', 'F1'), ('X-b', 'F2')")
    spark.sql("CALL graftc.system.create_mv('db.mv_snow', 'db.mvbase', " +
      "'SELECT fam, v % 20 AS bucket, count(*) AS n FROM __BASE__ f " +
      "JOIN __DIM_d__ s ON f.g = s.g " +
      "JOIN __DIM_e__ t ON s.label = t.label " +
      "GROUP BY fam, v % 20', 'fam,bucket', " +
      "dims => 'd=db.mvdim ON g=g; e=db.mvdim2 FROM d ON label=label', " +
      "key_exprs => 'bucket=v % 20')")
    def mvs() = spark.sql(
      "SELECT * FROM graftc.db.mv_snow ORDER BY fam, bucket")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(mvs() == Seq(("F1", 10L, 1L), ("F2", 10L, 1L)))
    spark.sql("DELETE FROM graftc.db.mvdim2 WHERE label = 'X-b'")
    spark.sql("INSERT INTO graftc.db.mvdim2 VALUES ('X-b', 'F9')")
    spark.sql("CALL graftc.system.refresh_mv('db.mv_snow')").collect(): Unit
    assert(mvs() == Seq(("F1", 10L, 1L), ("F9", 10L, 1L)))
  }

  test("merge publish in SQL: publish_branch(merge => true) lands disjoint branch and main changes in one commit") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.wap3 (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql("INSERT INTO graftc.db.wap3 VALUES (1, 'a'), (2, 'b')")
    spark.sql("CALL graftc.system.create_branch('db.wap3', 'feat')")
    spark.sql("INSERT INTO graftc.db.wap3.feat VALUES (3, 'c')")
    // main moves underneath with its own disjoint append
    spark.sql("INSERT INTO graftc.db.wap3 VALUES (4, 'd')")
    val noMerge = intercept[Exception] {
      spark.sql("CALL graftc.system.publish_branch('db.wap3', 'feat')")
    }
    assert(noMerge.getMessage.contains("non-fast-forward"))
    spark.sql(
      "CALL graftc.system.publish_branch('db.wap3', 'feat', merge => true)")
    assert(spark.sql("SELECT * FROM graftc.db.wap3 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("table groups in SQL: create_group, branch DML, publish_group lands both members atomically, group_snapshot pins the consistent VERSION AS OF read") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.gfact (id BIGINT, rid BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'id')")
    spark.sql("CREATE TABLE graftc.db.gdim (rid BIGINT, rname STRING) " +
      "TBLPROPERTIES ('statsCols' = 'rid')")
    spark.sql("INSERT INTO graftc.db.gfact VALUES (1, 10)")
    spark.sql("INSERT INTO graftc.db.gdim VALUES (10, 'west')")
    spark.sql("CALL graftc.system.create_group('grp1', " +
      "'fact=db.gfact; dims=db.gdim')")
    spark.sql("CALL graftc.system.create_branch('db.gfact', 'load')")
    spark.sql("CALL graftc.system.create_branch('db.gdim', 'load')")
    // the PAIRED write on branches: a fact row joining a NEW dim row
    spark.sql("INSERT INTO graftc.db.gfact.load VALUES (2, 20)")
    spark.sql("INSERT INTO graftc.db.gdim.load VALUES (20, 'east')")
    def consistentJoin(): Seq[(Long, String)] = {
      val snap = spark.sql(
        "CALL graftc.system.group_snapshot('grp1')").collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      spark.sql(
        s"SELECT f.id, d.rname FROM " +
          s"graftc.db.gfact VERSION AS OF ${snap("fact")} f JOIN " +
          s"graftc.db.gdim VERSION AS OF ${snap("dims")} d " +
          "ON f.rid = d.rid ORDER BY f.id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    }
    assert(consistentJoin() == Seq((1L, "west")))
    val gv = spark.sql(
      "CALL graftc.system.publish_group('grp1', 'load')")
      .collect().head.getLong(0)
    assert(gv == 1L)
    assert(consistentJoin() == Seq((1L, "west"), (2L, "east")))
    // a direct head write does not leak into the group snapshot
    spark.sql("INSERT INTO graftc.db.gfact VALUES (3, 10)")
    assert(consistentJoin() == Seq((1L, "west"), (2L, "east")))
  }

  test("transparent rewrite in SQL: enable_mv_rewrite serves a matching aggregate over the CATALOG table from the view; stale stands down; refresh + disable round-trip") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.rwbase (k BIGINT, g STRING, " +
      "v BIGINT) TBLPROPERTIES ('statsCols' = 'k,g')")
    spark.sql(
      "INSERT INTO graftc.db.rwbase VALUES (1, 'a', 10), (2, 'a', 20)")
    spark.sql("INSERT INTO graftc.db.rwbase VALUES (3, 'b', 30)")
    spark.sql("CALL graftc.system.create_mv('db.mv_rw', 'db.rwbase', " +
      "'SELECT g, count(*) AS n, sum(v) AS total FROM __BASE__ " +
      "GROUP BY g', 'g')")
    spark.sql("CALL graftc.system.enable_mv_rewrite('db.mv_rw')")
    try {
      def q() = spark.sql("SELECT g, count(*) AS n, sum(v) AS total " +
        "FROM graftc.db.rwbase GROUP BY g")
      def served(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
            r.table.name
        }.exists(_.contains("mv_rw"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("g").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val fresh = q()
      assert(served(fresh), "the fresh view must serve the catalog query")
      assert(rows(fresh) == Seq(("a", 2L, 30L), ("b", 1L, 30L)))
      // base moves: the view is stale, the direct scan answers
      spark.sql("INSERT INTO graftc.db.rwbase VALUES (4, 'b', 40)")
      val stale = q()
      assert(!served(stale), "a stale view must stand down")
      assert(rows(stale) == Seq(("a", 2L, 30L), ("b", 2L, 70L)))
      // refresh catches up: served again, with the new totals
      spark.sql("CALL graftc.system.refresh_mv('db.mv_rw')").collect(): Unit
      val again = q()
      assert(served(again) &&
        rows(again) == Seq(("a", 2L, 30L), ("b", 2L, 70L)))
      spark.sql("CALL graftc.system.disable_mv_rewrite('db.mv_rw')")
      assert(!served(q()))
    } finally
      spark.sql("CALL graftc.system.disable_mv_rewrite('db.mv_rw')")
        .collect(): Unit
  }

  test("CALL analyze_table: one HLL pass feeds NDV into cost-based planning by name") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.anlz (k BIGINT, g STRING) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql("INSERT INTO graftc.db.anlz SELECT id, " +
      "CAST(id % 7 AS STRING) FROM range(1000)")
    spark.sql("CALL graftc.system.analyze_table('db.anlz', '')")
    val prev = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val plan = spark.sql("SELECT * FROM graftc.db.anlz")
        .queryExecution.optimizedPlan
      def ndv(name: String) = plan.stats.attributeStats
        .find(_._1.name == name).flatMap(_._2.distinctCount)
      assert(ndv("k").exists(n => n > 950 && n < 1050), s"k: ${ndv("k")}")
      assert(ndv("g").contains(BigInt(7)), s"g: ${ndv("g")}")
    } finally prev.fold(spark.conf.unset("spark.sql.cbo.enabled"))(
      spark.conf.set("spark.sql.cbo.enabled", _))
  }

  test("schema auto-merge: MERGE WITH SCHEMA EVOLUTION evolves through the catalog; mergeSchema appends evolve by name; no opt-in still refuses") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.automerge (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql("INSERT INTO graftc.db.automerge VALUES (1, 10), (2, 20)")
    // the ANSI statement surface: WITH SCHEMA EVOLUTION routes the
    // source's new column through catalog.alterTable (the table's
    // AUTOMATIC_SCHEMA_EVOLUTION capability) before the merge compiles
    spark.range(2, 4)
      .selectExpr("id as k", "id * 10 as v", "concat('w', id) as w")
      .createOrReplaceTempView("automerge_src")
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graftc.db.automerge t
      USING automerge_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val afterMerge = spark.table("graftc.db.automerge")
      .orderBy("k").collect()
    assert(afterMerge.map(_.getAs[Long]("k")).toSeq == Seq(1L, 2L, 3L))
    assert(afterMerge(0).isNullAt(afterMerge(0).fieldIndex("w")),
      "the untouched row reads NULL for the evolved column")
    assert(afterMerge.drop(1).map(_.getAs[String]("w")).toSeq ==
      Seq("w2", "w3"))
    // by-name append through the catalog identifier with the per-write
    // option: a second new column lands without a manual ALTER
    spark.range(4, 5)
      .selectExpr("id as k", "id * 10 as v", "concat('w', id) as w",
        "id * 2 as z")
      .writeTo("graftc.db.automerge").option("mergeSchema", "true")
      .append()
    val afterAppend = spark.table("graftc.db.automerge")
      .orderBy("k").collect()
    assert(afterAppend.length == 4 &&
      afterAppend(3).getAs[Long]("z") == 8L)
    assert(afterAppend.take(3).forall(r => r.isNullAt(r.fieldIndex("z"))))
    // the eager-relation path (DataFrameWriter.save on the path
    // source) under the SESSION conf
    val root = s"$warehouse/automerge_path"
    sinks.ManifestTable.create(
      spark.range(2).selectExpr("id as k", "id * 10 as v"), root, Seq("k"))
    val prev = spark.conf.getOption("spark.graft.schema.autoMerge")
    try {
      spark.conf.set("spark.graft.schema.autoMerge", "true")
      spark.range(2, 3).selectExpr("id as k", "id * 10 as v", "id as extra")
        .write.format("graft").mode("append").save(root)
    } finally prev.fold(spark.conf.unset("spark.graft.schema.autoMerge"))(
      spark.conf.set("spark.graft.schema.autoMerge", _))
    val pathRows = spark.read.format("graft").load(root)
      .orderBy("k").collect()
    assert(pathRows.map(_.getAs[Long]("k")).toSeq == Seq(0L, 1L, 2L))
    assert(pathRows(2).getAs[Long]("extra") == 2L &&
      pathRows.take(2).forall(r => r.isNullAt(r.fieldIndex("extra"))))
    // WITHOUT opt-in, an extra column still refuses — auto-merge must
    // never be ambient
    intercept[Exception] {
      spark.range(3, 4).selectExpr("id as k", "id * 10 as v", "id as oops")
        .write.format("graft").mode("append").save(root)
    }
    intercept[Exception] {
      spark.range(5, 6)
        .selectExpr("id as k", "id * 10 as v", "concat('w', id) as w",
          "id * 2 as z", "id as oops")
        .writeTo("graftc.db.automerge").append()
    }
  }

  test("rebucket: optimize_table(buckets => n) re-clusters in ONE commit — SPJ plans on the new grid; buckets => 0 drops the layout and unlocks key widen") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.rb_a (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql("CREATE TABLE graftc.db.rb_b (k BIGINT, w STRING) " +
      "PARTITIONED BY (bucket(8, k)) TBLPROPERTIES ('statsCols' = 'k')")
    spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .writeTo("graftc.db.rb_a").append()
    spark.range(200, 800)
      .select(col("id").as("k"), concat(lit("w"), col("id")).as("w"))
      .writeTo("graftc.db.rb_b").append()
    val locA = s"$warehouse/tables/db/rb_a"
    val want = spark.sql(
      "SELECT a.k, a.v, b.w FROM graftc.db.rb_a a " +
        "JOIN graftc.db.rb_b b ON a.k = b.k ORDER BY a.k")
      .collect().map(_.toString).toSeq
    // the table outgrew n=4: ONE procedure call re-lays onto the
    // 8-bucket grid (key kept — the grown-cardinality case), as one
    // commit carrying both the re-laid files and the new claim
    spark.sql("CALL graftc.system.optimize_table(" +
      "table => 'db.rb_a', buckets => 8)")
    val vA = sinks.ManifestTable.latestVersion(spark, locA)
    assert(sinks.ManifestTable.bucketSpecLogical(
      sinks.ManifestTable.tableSchema(spark, locA, vA))
      .contains((Seq("k"), 8)), "the new claim is committed")
    assert(sinks.ManifestTable.filesAt(spark, locA, vA)
      .forall(_.contains("gb=")), "re-laid files live in bucket dirs")
    // time travel still serves the OLD layout's version
    assert(spark.read.format("graft").option("versionAsOf", vA - 1)
      .load(locA).count() == 1000L)
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.v2.bucketing.pushPartValues.enabled",
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.v2.bucketing.pushPartValues.enabled",
        "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val spj = spark.sql(
        "SELECT a.k, a.v, b.w FROM graftc.db.rb_a a " +
          "JOIN graftc.db.rb_b b ON a.k = b.k ORDER BY a.k")
      val p = spj.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"the rebucketed table must join co-grid with NO shuffle:\n$p")
      assert(spj.collect().map(_.toString).toSeq == want,
        "rebucket is content-identical")
    } finally saved.foreach { case (k, ov) =>
      ov.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    // sort_cols compose with buckets: ONE pass routes rows to their
    // cells AND lays them sorted inside each bucket file (the cell
    // shuffle would otherwise destroy the clustering) — row groups
    // stay page-prunable on the sort column at 100 TB bucket sizes
    spark.sql("CALL graftc.system.optimize_table(" +
      "table => 'db.rb_a', sort_cols => 'v', buckets => 8)")
    val vAs = sinks.ManifestTable.latestVersion(spark, locA)
    sinks.ManifestTable.filesAt(spark, locA, vAs).foreach { f =>
      val vs = spark.read.parquet(f).select("v").collect()
        .map(_.getLong(0)).toSeq
      assert(vs == vs.sorted, s"in-bucket rows must land sorted: $f")
    }
    assert(spark.table("graftc.db.rb_a").count() == 1000L)
    // dropping the layout unlocks the frozen-key refusals: widen of a
    // bucket key refuses, buckets => 0 clears the claim, widen lands
    spark.sql("CREATE TABLE graftc.db.rb_c (k INT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql("INSERT INTO graftc.db.rb_c VALUES (1, 10), (2, 20)")
    val widenErr = intercept[Exception] {
      spark.sql("ALTER TABLE graftc.db.rb_c ALTER COLUMN k TYPE BIGINT")
    }
    assert(widenErr.getMessage.contains("bucket"))
    spark.sql("CALL graftc.system.optimize_table(" +
      "table => 'db.rb_c', buckets => 0)")
    val locC = s"$warehouse/tables/db/rb_c"
    assert(sinks.ManifestTable.bucketSpecLogical(
      sinks.ManifestTable.tableSchema(spark, locC,
        sinks.ManifestTable.latestVersion(spark, locC))).isEmpty)
    spark.sql("ALTER TABLE graftc.db.rb_c ALTER COLUMN k TYPE BIGINT")
    assert(spark.table("graftc.db.rb_c").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L)))
  }

  test("schema auto-merge is write-atomic: a failed append leaves the schema unchanged, and 2-part identifiers resolve against the current catalog") {
    warehouse: Unit
    spark.sql("CREATE TABLE graftc.db.amatomic (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql("INSERT INTO graftc.db.amatomic VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE graftc.db.amatomic " +
      "ADD CONSTRAINT v_small CHECK (v < 100)")
    val loc = s"$warehouse/tables/db/amatomic"
    val v0 = sinks.ManifestTable.latestVersion(spark, loc)
    // the batch carries a NEW column (evolution) AND violates the
    // constraint (the landing fails at commit validation): the
    // auto-merge rule resolves the append against the merged schema
    // WITHOUT committing it, the write evolves-then-fails, and the
    // compensation restores the pre-evolution schema — analysis-time
    // evolution would have left `extra` behind forever
    val err = intercept[Exception] {
      spark.sql("SELECT 9L as k, 900L as v, 1L as extra")
        .writeTo("graftc.db.amatomic").option("mergeSchema", "true")
        .append()
    }
    assert(err.getMessage.contains("v_small"))
    assert(!spark.table("graftc.db.amatomic").columns.contains("extra"),
      "a failed auto-merge append must leave the table schema unchanged")
    assert(sinks.ManifestTable
      .tableSchema(spark, loc, sinks.ManifestTable.latestVersion(spark, loc))
      .fieldNames.toSeq ==
      sinks.ManifestTable.tableSchema(spark, loc, v0).fieldNames.toSeq)
    assert(spark.table("graftc.db.amatomic").count() == 2L)
    // 2-part identifier under the CURRENT catalog: mergeSchema works
    // without a catalog prefix (the rule follows Spark's own
    // catalog-first-then-current lookup)
    val prevCat = spark.sessionState.catalogManager.currentCatalog.name()
    try {
      spark.sql("USE graftc")
      spark.sql("SELECT 3L as k, 30L as v, 'w3' as w")
        .writeTo("db.amatomic").option("mergeSchema", "true")
        .append()
    } finally spark.sql(s"USE $prevCat")
    val rows = spark.table("graftc.db.amatomic").orderBy("k").collect()
    assert(rows.length == 3 && rows(2).getAs[String]("w") == "w3")
    assert(rows.take(2).forall(r => r.isNullAt(r.fieldIndex("w"))),
      "pre-evolution rows read NULL for the evolved column")
  }
}

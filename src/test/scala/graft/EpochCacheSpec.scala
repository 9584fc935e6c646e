package graft

import graft.sinks.{LocalEpoch, ManifestTable, MaterializedView}
import graft.util.EpochCache
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver's one metadata cache ([[EpochCache]]) is purely an
  * optimization: cold and warm reads agree, the identity key keeps a
  * re-created table fresh, the byte budget holds — and the driver-side
  * epoch writer it serves matches the task-written path. */
class EpochCacheSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def fsOf(p: String) = new Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Descriptions (null when unset) of the Spark jobs started while
    * `body` runs. Listener events arrive in order, so once a trailing
    * barrier job's start is seen every earlier job has been counted. */
  private def jobDescriptionsDuring(body: => Unit): Seq[String] = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val barrier = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        if (d.contains("barrier")) barrier.countDown()
        else started.add(d): Unit
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobDescription("barrier")
      try spark.sparkContext.parallelize(1 to 1, 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(barrier.await(30, java.util.concurrent.TimeUnit.SECONDS))
      started.toArray.toSeq.map(_.asInstanceOf[Option[String]].orNull)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def jobsDuring(body: => Unit): Int = jobDescriptionsDuring(body).size

  /** Rows as exact strings: doubles by raw bits (NaN vs -0.0 vs 0.0),
    * binaries by content — what `Row.equals` would blur. */
  private def exact(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case d: Double      => s"d:${java.lang.Double.doubleToRawLongBits(d)}"
      case b: Array[Byte] => s"b:${b.mkString(",")}"
      case null           => "null"
      case o              => s"${o.getClass.getSimpleName}:$o"
    }.mkString("|")).sorted

  test("the cache is only an optimization: a commit round reads identically warm and with the cache cleared before every read") {
    def round(base: String, cold: Boolean): Seq[Seq[String]] = {
      def fresh(): Unit = if (cold) EpochCache.clear()
      val (t, mv) = (s"$base/t", s"$base/mv")
      def read(root: String): Seq[String] = {
        fresh()
        val df = ManifestTable.read(spark, root)
        exact(df.select(df.columns.sorted.toIndexedSeq.map(col): _*).collect().toSeq)
      }
      def step(body: => Unit): Seq[Seq[String]] = {
        fresh(); body
        Seq(read(t), read(mv))
      }
      val rows = (0L until 200L).map(k => (k, k % 7, k * 10))
      step {
        ManifestTable.create(rows.toDF("k", "g", "v")
          .repartitionByRange(4, col("k")), t, Seq("k"))
        MaterializedView.create(spark, mv, t,
          "SELECT g, count(*) AS n, sum(v) AS s FROM __BASE__ GROUP BY g",
          Seq("g"))
      } ++ step {
        ManifestTable.write(Seq((500L, 1L, 5L), (501L, 2L, 6L))
          .toDF("k", "g", "v"), t)
        MaterializedView.refresh(spark, mv)
      } ++ step {
        ManifestTable.mergeEq(Seq((3L, 3L, -3L), (600L, 4L, 60L))
          .toDF("k", "g", "v"), t, Seq("k"))
        MaterializedView.refresh(spark, mv)
      } ++ step {
        ManifestTable.applyCdcEq(Seq(
          (10L, 3L, 0L, "D", 1L), (11L, 4L, 111L, "U", 2L),
          (700L, 0L, 7L, "I", 3L)).toDF("k", "g", "v", "op", "seq"),
          t, Seq("k"))
        MaterializedView.refresh(spark, mv)
      } ++ step {
        ManifestTable.deleteWhereMor(spark, t, col("k").between(40L, 60L))
        MaterializedView.refresh(spark, mv)
      }
    }
    val warm = round(tmp("graft-cache-warm"), cold = false)
    val cold = round(tmp("graft-cache-cold"), cold = true)
    assert(warm.forall(_.nonEmpty))
    assert(warm == cold, "a cold cache must read exactly what a warm one does")
  }

  test("a primed full-width manifest entry equals a cold read-back: schema and rows, over timestamp/decimal(38)/date/binary/NaN/-0.0 stats") {
    val base = tmp("graft-cache-prime")
    val (src, dst) = (s"$base/src", s"$base/dst")
    val rows = Seq(
      (0L, -0.0, "2024-01-01 00:00:00.123456", "0.0000000001", "1970-01-01", Array[Byte](0)),
      (1L, 1.5, "2024-01-01 00:00:00", "-12345678901234567890.1234567890", "2024-02-29", Array[Byte]()),
      (2L, Double.NaN, "1900-01-01 12:00:00", "99999999999999999999999999.9999999999", "0001-01-01", Array[Byte](-1, 127)),
      (3L, 0.0, "2262-04-11 23:47:16.854775", "1", "9999-12-31", Array[Byte](1, 2, 3)),
      (4L, Double.NegativeInfinity, "2024-06-01 00:00:00", "-0.5", "2000-01-01", Array[Byte](-128)),
      (5L, Double.NaN, "2024-06-01 00:00:01", "0", "2000-01-02", Array[Byte](9)))
      .toDF("k", "dbl", "ts", "dec", "d", "bin")
      .select(col("k"), col("dbl"), col("ts").cast("timestamp").as("ts"),
        col("dec").cast("decimal(38,10)").as("dec"),
        col("d").cast("date").as("d"), col("bin"))
      .repartitionByRange(3, col("k"))
    ManifestTable.create(rows, src, Seq("dbl", "ts", "dec", "d", "bin"))
    // the clone commits the source's (collected, local) manifest, so
    // its epoch is primed from the rows it just wrote
    val v = ManifestTable.cloneTo(spark, src, dst)
    var primed: (org.apache.spark.sql.types.StructType, Seq[Row]) = null
    assert(jobsDuring {
      primed = ManifestTable.manifestCollected(spark, dst, v)
    } == 0, "the clone's manifest must be served from the primed entry")
    EpochCache.clear()
    val cold = ManifestTable.manifestCollected(spark, dst, v)
    assert(primed._1 == cold._1, s"schema: ${primed._1} vs ${cold._1}")
    assert(exact(primed._2) == exact(cold._2))
    // the stats columns really carry the edge values
    val stat = (c: String) => cold._2.map(_.getDouble(cold._1.fieldIndex(c)))
    assert(stat("dbl_max").exists(_.isNaN))
    assert(stat("dbl_min").exists(d => java.lang.Double.doubleToRawLongBits(d) ==
      java.lang.Double.doubleToRawLongBits(-0.0)))
    assert(ManifestTable.read(spark, dst).count() == 6L)
  }

  test("a re-created table whose epoch keeps the old mtime never serves the old rows: the commit record's claim keys the cache") {
    val root = s"${tmp("graft-cache-stale")}/t"
    ManifestTable.create(spark.range(0, 5).select(col("id").as("k")), root, Seq("k"))
    def keys(): Set[Long] =
      ManifestTable.read(spark, root).collect().map(_.getLong(0)).toSet
    assert(keys() == (0L until 5L).toSet) // warm: the old epoch is cached
    val epoch = new Path(s"${ManifestTable.manifestsRoot(root)}/epoch=0")
    val f = fsOf(root)
    val oldMtime = f.getFileStatus(epoch).getModificationTime
    assert(f.delete(new Path(root), true))
    ManifestTable.create(spark.range(100, 105).select(col("id").as("k")), root, Seq("k"))
    f.setTimes(epoch, oldMtime, -1L)
    assert(f.getFileStatus(epoch).getModificationTime == oldMtime)
    assert(keys() == (100L until 105L).toSet,
      "the re-created epoch must read its own rows")
  }

  test("a root dropped and re-created with pending equality deletes at the same version reads the new table's rows, through the probe and the materializing path") {
    val root = s"${tmp("graft-cache-stale-eq")}/t"
    val key = "spark.graft.eq.materializeOnRead"
    def rows(): Seq[(Long, String)] =
      ManifestTable.read(spark, root).as[(Long, String)].collect().toSeq.sorted
    def bothPaths(): Seq[Seq[(Long, String)]] =
      Seq("false", "true").map { m =>
        spark.conf.set(key, m)
        try rows() finally spark.conf.unset(key)
      }
    def table(ks: Seq[Long], upsert: (Long, String)): Long = {
      ManifestTable.create(ks.map(k => (k, s"a$k")).toDF("k", "v")
        .repartition(2), root, Seq("k"))
      ManifestTable.mergeEq(Seq(upsert).toDF("k", "v"), root, Seq("k"))
    }
    // the old table's delete key matches no row: its resolution writes
    // no scratch vector, so only the key can tell the tables apart
    assert(table(0L until 5L, (50L, "x")) == 1L)
    val old = (0L until 5L).map(k => (k, s"a$k")) :+ ((50L, "x"))
    assert(bothPaths() == Seq(old, old)) // warm: probe plan and resolution
    assert(fsOf(root).delete(new Path(root), true))
    assert(table(10L until 15L, (12L, "y")) == 1L)
    val fresh = Seq((10L, "a10"), (11L, "a11"), (12L, "y"), (13L, "a13"),
      (14L, "a14"))
    assert(bothPaths() == Seq(fresh, fresh),
      "the re-created version must read its own rows and deletes")
  }

  test("warm explicit-version manifest accessors never list: filesAt, manifest and statsCols at a fixed version") {
    val dir = tmp("graft-cache-nolist")
    ManifestTable.create(spark.range(0, 40).select(col("id").as("k"),
      (col("id") % 3).as("g")).repartition(3), s"$dir/t", Seq("k", "g"))
    ManifestTable.write(spark.range(40, 45).select(col("id").as("k"),
      lit(1L).as("g")), s"$dir/t")
    // the same on-disk table, reached through the counting scheme
    spark.sparkContext.hadoopConfiguration
      .set("fs.counting.impl", classOf[CountingFs].getName)
    val root = s"counting://$dir/t"
    def access(): Unit = (0L to 1L).foreach { v =>
      assert(ManifestTable.filesAt(spark, root, v).nonEmpty)
      assert(ManifestTable.manifest(spark, root, v).columns.contains("k_min"))
      assert(ManifestTable.statsCols(spark, root, v) == Seq("k", "g"))
    }
    access() // warm
    CountingFs.listCalls.set(0L)
    access()
    assert(CountingFs.listCalls.get() == 0L,
      s"warm accessors listed ${CountingFs.listCalls.get()} times")
  }

  test("buildBloom over more than 32 files reads them through the manifest's (path, size) listing: no listing job") {
    val root = s"${tmp("graft-bloom-nolist")}/t"
    ManifestTable.create(spark.range(0, 400).select(col("id").as("k"))
      .repartition(40), root, Seq("k"))
    assert(ManifestTable.filesAt(spark, root, 0L).size == 40)
    var v: Option[Long] = None
    val listings = jobDescriptionsDuring {
      v = ManifestTable.buildBloom(spark, root, "k")
    }.filter(d => d != null && d.startsWith("Listing leaf files"))
    assert(listings.isEmpty, s"listing jobs: $listings")
    val bits = ManifestTable.manifest(spark, root, v.get)
      .select(col(ManifestTable.bloomCol("k"))).as[Array[Byte]].collect()
    assert(bits.length == 40 && bits.forall(_ != null))
  }

  test("the byte budget holds: filling past it evicts least-recently-used entries, and evicted epochs re-read identically") {
    EpochCache.clear()
    val root = s"${tmp("graft-cache-budget")}/t"
    ManifestTable.create(spark.range(0, 50).select(col("id").as("k"),
      (col("id") % 3).as("g")).repartition(2), root, Seq("k"))
    (1 to 3).foreach(i => ManifestTable.write(spark.range(i * 100, i * 100 + 10)
      .select(col("id").as("k"), lit(i.toLong).as("g")), root))
    def snapshot(): Seq[Seq[String]] = (0L to 3L).map { v =>
      val m = ManifestTable.manifest(spark, root, v)
      exact(m.collect().toSeq) ++
        exact(ManifestTable.readVersion(spark, root, v).collect().toSeq)
    }
    val before = snapshot()
    assert(EpochCache.retainedBytes > 0L)
    assert(EpochCache.retainedBytes <= EpochCache.BudgetBytes)
    val quarter = EpochCache.BudgetBytes / 4
    val Filler = new EpochCache.Kind[Int](_ => quarter)
    (0 until 8).foreach { i =>
      EpochCache.put(Filler, i, i)
      assert(EpochCache.retainedBytes <= EpochCache.BudgetBytes)
    }
    // the four newest fillers fill the budget exactly: every epoch
    // entry, and the four oldest fillers, are gone
    assert(EpochCache.retainedBytes == EpochCache.BudgetBytes)
    assert((0 until 4).forall(EpochCache.get(Filler, _).isEmpty))
    assert((4 until 8).forall(EpochCache.get(Filler, _).nonEmpty))
    // least RECENTLY used goes first: touching 4 spares it
    EpochCache.get(Filler, 4)
    EpochCache.put(Filler, 8, 8)
    assert(EpochCache.get(Filler, 4).nonEmpty && EpochCache.get(Filler, 5).isEmpty)
    // a value heavier than the whole budget is not retained
    val Huge = new EpochCache.Kind[Int](_ => EpochCache.BudgetBytes + 1)
    EpochCache.put(Huge, 0, 0)
    assert(EpochCache.get(Huge, 0).isEmpty)
    assert(EpochCache.retainedBytes == EpochCache.BudgetBytes)
    EpochCache.clear()
    assert(snapshot() == before, "evicted epochs must re-read identically")
    assert(EpochCache.retainedBytes <= EpochCache.BudgetBytes)
  }

  test("a bloomed manifest entry weighs at least its bits: binary cells count by their length") {
    val root = s"${tmp("graft-cache-bloom")}/t"
    ManifestTable.create(spark.range(0, 400).select(col("id").as("k"))
      .repartition(4), root, Seq("k"))
    val v = ManifestTable.buildBloom(spark, root, "k").get
    val bits = ManifestTable.manifest(spark, root, v)
      .select(col(ManifestTable.bloomCol("k"))).as[Array[Byte]].collect()
      .map(_.length.toLong).sum
    assert(bits >= 4L * ((1 << 17) / 8), s"bits: $bits")
    EpochCache.clear()
    // one accessor read caches the epoch's full-width entry
    assert(ManifestTable.filesAt(spark, root, v).size == 4)
    assert(EpochCache.retainedBytes >= bits,
      s"retained ${EpochCache.retainedBytes} bytes for $bits bytes of bits")
  }

  test("driver-staged epochs carry the footer codec a task-staged epoch does, and reject the codecs the task path rejects") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val base = tmp("graft-codec")
    val conf = spark.sparkContext.hadoopConfiguration
    def footerCodec(file: Path): String = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try r.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.name()
      finally r.close()
    }
    val key = "spark.sql.parquet.compression.codec"
    val prev = spark.conf.getOption(key)
    val df = spark.range(3).toDF("id")
    val schema = df.schema
    val irows = df.queryExecution.toRdd.collect().map(_.copy()).toSeq
    var compared = Seq.empty[String]
    try {
      Seq("none", "uncompressed", "snappy", "gzip", "lzo", "brotli", "lz4",
          "lz4_raw", "zstd").foreach { codec =>
        spark.conf.set(key, codec)
        val taskDir = s"$base/task-$codec"
        val taskCodec = scala.util.Try {
          df.coalesce(1).write.parquet(taskDir)
          val part = fsOf(taskDir).listStatus(new Path(taskDir))
            .map(_.getPath).find(_.getName.startsWith("part-")).get
          footerCodec(part)
        }.toOption
        val file = new Path(s"$base/driver-$codec/part-00000.parquet")
        taskCodec match {
          case Some(want) =>
            LocalEpoch.writeParquet(spark, file, schema, irows)
            assert(footerCodec(file) == want, s"codec $codec")
            compared :+= codec
          case None => // the task path rejects it: so must the driver
            assert(scala.util.Try(
              LocalEpoch.writeParquet(spark, file, schema, irows)).isFailure,
              s"codec $codec: the task path rejects it, the driver wrote it")
        }
      }
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
    assert(Set("uncompressed", "snappy", "gzip", "zstd").subsetOf(compared.toSet),
      s"compared only $compared")
  }
}

package graft

import java.nio.file.Files

import graft.sources.Io
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class IoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_$name").toString + "/out"

  test("csv round trip preserves ints, strings, and doubles exactly") {
    val df = Seq((1L, "a,b", 1.25), (2L, "c\"d", 0.1), (3L, "", -2.5e-10))
      .toDF("k", "s", "v")
    val back = Io.csvRoundTrip(df, tmp("csv"), inferSchema = true)
      .orderBy("k").collect()
    // inferSchema narrows small ints to IntegerType — value-compare.
    assert(back.map(_.getAs[Number](0).longValue).toSeq == Seq(1L, 2L, 3L))
    assert(back(0).getString(1) == "a,b" && back(1).getString(1) == "c\"d")
    assert(back.map(_.getDouble(2)).toSeq == Seq(1.25, 0.1, -2.5e-10))
  }

  test("json PERMISSIVE mode captures corrupt records per-row") {
    val dir = Files.createTempDirectory("graft_ndjson")
    val file = dir.resolve("data.json")
    Files.writeString(file,
      """{"k": 1, "s": "ok"}
        |{"k": BROKEN
        |{"k": 3, "s": "fine"}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    // Spark disallows querying only the corrupt-record column from a raw
    // file scan — cache the parsed result first (documented behavior).
    val got = Io.readJsonPermissive(spark, schema, file.toString).cache()
    assert(got.count() == 3)
    assert(got.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(got.filter(col("_corrupt_record").isNull).count() == 2)
  }

  test("orc round trip preserves timestamps") {
    val df = Seq((1L, java.sql.Timestamp.valueOf("1996-02-29 13:14:15.123456")))
      .toDF("k", "t")
    val back = Io.orcRoundTrip(df, tmp("orc")).collect()
    assert(back(0).getTimestamp(1) ==
      java.sql.Timestamp.valueOf("1996-02-29 13:14:15.123456"))
  }

  test("graft-avro DataSource V2 reads with schema inference and column pruning") {
    // fixture written with avro core's own writer, not graft-avro's
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = SchemaBuilder.record("fixture").fields()
      .requiredLong("k").requiredString("s").requiredDouble("v").endRecord()
    val rows = Seq((1L, "alpha", 1.5), (2L, "beta", -0.25), (3L, "gamma", 2.0))
    val dir = Files.createTempDirectory("graft_avro_v2")
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
      .create(schema, dir.resolve("part-0.avro").toFile)
    try rows.foreach { case (k, s, v) =>
      val rec = new GenericData.Record(schema)
      rec.put("k", k); rec.put("s", s); rec.put("v", v)
      writer.append(rec)
    } finally writer.close()
    val df = rows.toDF("k", "s", "v")
    val back = spark.read.format("graft-avro").load(dir.toString)
    assert(back.schema.fieldNames.toSeq == Seq("k", "s", "v"))
    assert(back.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
    // column pruning reaches the scan: ReadSchema shows only (k)
    val pruned = back.select("k")
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("ReadSchema: struct<k:bigint>"), scanDesc)
    assert(pruned.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("graft-avro DSv2 write path: df.write.format round-trips with overwrite") {
    // every supported primitive, and a null in each nullable column
    val df = Seq(
      (1L, Some(10), Some(1.5f), Some(1.25), Some("alpha"), Some(true)),
      (2L, None, Some(-0.5f), Some(-2.5e-10), None, Some(false)),
      (3L, Some(-7), None, None, Some("gamma"), None)
    ).toDF("k", "i", "f", "v", "s", "b")
    val path = tmp("avro_v2_w")
    df.write.format("graft-avro").mode("overwrite").save(path)
    val back = spark.read.format("graft-avro").load(path)
    assert(back.schema == df.schema, back.schema.treeString)
    assert(back.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
    // overwrite replaces, not appends
    val df2 = Seq((9L, Some(0), Some(0f), Some(0.0), Some("z"), Some(false)))
      .toDF("k", "i", "f", "v", "s", "b")
    df2.write.format("graft-avro").mode("overwrite").save(path)
    val back2 = spark.read.format("graft-avro").load(path)
    assert(back2.collect().toSeq == df2.collect().toSeq)
  }

  test("arrow interop round trip preserves rows (to_arrow/from_arrow)") {
    import org.apache.spark.sql.graftshim.ArrowBridge
    val df = Seq((1L, "a", 1.5, true), (2L, "b", -0.25, false),
        (3L, null.asInstanceOf[String], 2.0, true))
      .toDF("k", "s", "v", "b")
    val back = ArrowBridge.roundTrip(df).orderBy("k").collect()
    assert(back.toSeq == df.orderBy("k").collect().toSeq)
    // driver-side handoff path (external Arrow consumer shape)
    val batches = ArrowBridge.toDriverBatches(df)
    assert(batches.nonEmpty && batches.forall(_.nonEmpty))
    val back2 = ArrowBridge.fromDriverBatches(spark, batches, df.schema.json)
    assert(back2.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
  }

  test("partitionBy write enables partition pruning on read") {
    val dir = tmp("hivepart")
    Seq((1L, "F"), (2L, "O"), (3L, "F")).toDF("k", "status")
      .write.partitionBy("status").parquet(dir)
    val read = spark.read.parquet(dir).filter(col("status") === "F")
    assert(read.count() == 2)
    val plan = read.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") &&
      plan.contains("isnotnull(status"), "partition filter not applied")
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    val dir = tmp("dynpart")
    Seq((1L, "a"), (2L, "b"), (3L, "b")).toDF("k", "p")
      .write.partitionBy("p").parquet(dir)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // overwrite ONLY partition p=b; p=a must survive (static mode would
      // wipe the whole table root first — the snapshot-refresh footgun)
      Seq((9L, "b")).toDF("k", "p")
        .write.mode("overwrite").partitionBy("p").parquet(dir)
      val got = spark.read.parquet(dir).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq == Seq((1L, "a"), (9L, "b")),
        s"expected a-partition kept, b-partition replaced; got ${got.toSeq}")
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None =>
          spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("custom-delimiter text read splits records on the delimiter") {
    val dir = Files.createTempDirectory("graft_text")
    val file = dir.resolve("recs.txt")
    Files.writeString(file, "alpha;beta;gamma")
    val got = Io.readTextDelim(spark, file.toString, ";")
      .as[String].collect().sorted
    assert(got.toSeq == Seq("alpha", "beta", "gamma"))
  }

  test("z-ordered layout keeps file min/max tight in BOTH dimensions") {
    // 128x128 uniform grid, one row per cell; 16 files. A perfectly
    // aligned Morton split gives 32x32 blocks: a y < 16 predicate
    // overlaps only the bottom block row (4 files) — a linear x-sort
    // spreads every y value across ALL files. Range-partition sampling
    // may misalign boundaries slightly, hence <= 8, not == 4.
    val base = Files.createTempDirectory("graft_zorder").toString
    val grid = spark.range(128L * 128)
      .select((col("id") % 128).as("x"), (col("id") / 128).as("y"))
    graft.sources.Layout.writeZOrdered(grid, s"$base/z", Seq("x", "y"),
      bits = 7, files = 16)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.parquet(s"$base/l")
    def filesOverlapping(dir: String, c: String, lo: Long, hi: Long): Long =
      spark.read.parquet(dir)
        .groupBy(col("_metadata.file_path"))
        .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
        .filter(col("mn") <= hi && col("mx") >= lo)
        .count()
    assert(filesOverlapping(s"$base/z", "y", 0, 15) <= 8,
      "z-order must prune the non-leading dimension")
    assert(filesOverlapping(s"$base/z", "x", 0, 15) <= 8,
      "z-order must prune the leading dimension too")
    assert(filesOverlapping(s"$base/l", "y", 0, 15) == 16,
      "linear sort cannot prune its non-leading dimension")
    // same rows survive either layout
    assert(spark.read.parquet(s"$base/z").count() == 128L * 128)
  }

  test("3-D z-ordered layout keeps file min/max tight in ALL dimensions") {
    // 32x32x32 uniform cube, one row per cell; 16 files. An aligned
    // Morton split cuts the cube into 2x2x4-ish blocks, so a z < 4
    // predicate (the bottom eighth) overlaps a minority of files —
    // while a linear x-sort spreads every z value across ALL of them.
    val base = Files.createTempDirectory("graft_zorder3").toString
    val cube = spark.range(32L * 32 * 32)
      .select((col("id") % 32).as("x"),
        ((col("id") / 32) % 32).as("y"),
        (col("id") / (32 * 32)).as("z"))
    graft.sources.Layout.writeZOrdered(cube, s"$base/z",
      Seq("x", "y", "z"), bits = 5, files = 16)
    cube.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.parquet(s"$base/l")
    def filesOverlapping(dir: String, c: String, lo: Long, hi: Long): Long =
      spark.read.parquet(dir)
        .groupBy(col("_metadata.file_path"))
        .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
        .filter(col("mn") <= hi && col("mx") >= lo)
        .count()
    // 2048-cell Morton blocks allocate the 11 varying low bits 4/4/3
    // across x/y/z (x varies fastest), giving 16x16x8 aligned boxes:
    // the z<=3 slab overlaps 1/4 of aligned files, x<=3 and y<=3 half.
    // Bound each dim at 12 (range-sampling misalignment allowed) —
    // the linear layout's non-leading dims give the full 16.
    for (d <- Seq("x", "y", "z"))
      assert(filesOverlapping(s"$base/z", d, 0, 3) <= 12,
        s"3-D z-order must prune dimension $d")
    assert(filesOverlapping(s"$base/z", "z", 0, 3) <= 8,
      "the coarsest dimension must prune hardest")
    assert(filesOverlapping(s"$base/l", "z", 0, 3) == 16,
      "linear sort cannot prune its non-leading dimensions")
    assert(spark.read.parquet(s"$base/z").count() == 32L * 32 * 32)
  }

  test("Hilbert index: bijective, consecutive positions grid-adjacent") {
    import graft.plans.HilbertImpl.xy2d
    // enumerate the full order-4 grid (16x16): d must be a bijection
    // onto 0..255 and the walk d -> d+1 must always move ONE step in
    // ONE coordinate — the defining locality property Morton lacks
    val byD = (for { x <- 0 until 16; y <- 0 until 16 }
      yield xy2d(4, x, y) -> (x, y)).toMap
    assert(byD.size == 256, "xy2d must be a bijection on the grid")
    assert(byD.keys.min == 0L && byD.keys.max == 255L)
    (0L until 255L).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump at d=$d: ($x1,$y1) -> ($x2,$y2)")
    }
    // Morton, by contrast, jumps (quadrant seams): at least one
    // consecutive pair is NOT adjacent
    import graft.plans.ZOrderImpl.interleave
    val byZ = (for { x <- 0 until 16; y <- 0 until 16 }
      yield interleave(4, Array(x.toLong, y.toLong)) -> (x, y)).toMap
    val zJumps = (0L until 255L).count { d =>
      val (x1, y1) = byZ(d); val (x2, y2) = byZ(d + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) > 1
    }
    assert(zJumps > 0, "Morton should jump; locality comparison is real")
    // clamping contract matches the Morton expression
    assert(xy2d(4, -3, 99) == xy2d(4, 0, 15))
  }

  test("hilbert-clustered layout prunes both dimensions like z-order") {
    val base = Files.createTempDirectory("graft_hilbert").toString
    val grid = spark.range(128L * 128)
      .select((col("id") % 128).as("x"), (col("id") / 128).as("y"))
    graft.sources.Layout.writeCurveClustered(grid, s"$base/h",
      Seq("x", "y"), bits = 7, files = 16, curve = "hilbert")
    def filesOverlapping(dir: String, c: String, lo: Long, hi: Long): Long =
      spark.read.parquet(dir)
        .groupBy(col("_metadata.file_path"))
        .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
        .filter(col("mn") <= hi && col("mx") >= lo)
        .count()
    assert(filesOverlapping(s"$base/h", "y", 0, 15) <= 8)
    assert(filesOverlapping(s"$base/h", "x", 0, 15) <= 8)
    assert(spark.read.parquet(s"$base/h").count() == 128L * 128)
  }

  test("compact coalesces a many-file directory to the byte-derived count") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_compact").toString
    // fragment: 64 tiny files
    spark.range(0, 10000).selectExpr("id", "id % 7 AS k")
      .repartition(64).write.parquet(s"$base/frag")
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$base/frag") == 64)
    val bytes = new java.io.File(s"$base/frag").listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // target half the directory size → exactly 2 output files
    val out = graft.sources.Layout.compact(spark, s"$base/frag",
      s"$base/tight", targetFileBytes = (bytes + 1) / 2,
      sortCols = Seq("id"))
    assert(parquetFiles(s"$base/tight") == 2,
      s"got ${parquetFiles(s"$base/tight")} files")
    assert(out.count() == 10000)
    // sorted compaction keeps footer stats selective: a range predicate
    // prunes at least one of the two row-group sets
    val pruned = spark.read.parquet(s"$base/tight").filter("id < 100")
    assert(pruned.count() == 100)
  }

  test("parquet/orc footer metadata tables: multi-file layout, " +
    "per-file stats, null counting policies") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_meta").toString
    // 3 files, disjoint id ranges per file (repartitionByRange), one
    // nullable column with a known null count
    val df = spark.range(0, 3000)
      .selectExpr("id", "CAST(id AS DOUBLE) / 4 AS v",
        "CASE WHEN id % 3 = 0 THEN NULL ELSE CONCAT('s', id) END AS s")
      .repartitionByRange(3, col("id"))
    df.write.parquet(s"$base/p")
    df.write.orc(s"$base/o")

    val pm = graft.sources.Layout.parquetMetadata(spark, s"$base/p")
    assert(pm.select("file_name").distinct().count() == 3)
    // per-file id stats are disjoint and collectively exact: global
    // min/max over per-file footer stats equal the data's min/max,
    // and each file's [min,max] ranges do not overlap
    val idStats = pm.filter(col("path_in_schema") === "id")
      .select(col("file_name"), col("stats_min").cast("long").as("mn"),
        col("stats_max").cast("long").as("mx"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted
    assert(idStats.length == 3)
    assert(idStats.head._1 == 0L && idStats.last._2 == 2999L)
    assert(idStats.sliding(2).forall { case Array(a, b) => a._2 < b._1 })
    // parquet num_values counts ALL values (incl. nulls); null_count
    // totals the planted 1000
    val sRow = pm.filter(col("path_in_schema") === "s")
      .agg(sum("num_values"), sum("null_count")).head()
    assert(sRow.getLong(0) == 3000L && sRow.getLong(1) == 1000L)

    val om = graft.sources.Layout.orcMetadata(spark, s"$base/o")
    assert(om.select("file_name").distinct().count() == 3)
    // ORC num_values counts NON-null values only
    val oRow = om.filter(col("column_name") === "s")
      .agg(sum("num_values"), max(col("has_null").cast("int"))).head()
    assert(oRow.getLong(0) == 2000L && oRow.getInt(1) == 1)
    // double stats round-trip through minAsString losslessly
    val vm = om.filter(col("column_name") === "v")
      .agg(min(col("stats_min").cast("double")),
        max(col("stats_max").cast("double"))).head()
    assert(vm.getDouble(0) == 0.0 && vm.getDouble(1) == 2999.0 / 4)
  }

  test("metadata readers recurse into hive-partitioned layouts and " +
    "the executor path matches the driver path") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_meta_part").toString
    val df = spark.range(0, 900)
      .selectExpr("id", "CAST(id % 3 AS INT) AS part")
    df.write.partitionBy("part").parquet(s"$base/p")
    df.write.partitionBy("part").orc(s"$base/o")

    // nested key=value dirs must be entered (a flat listing sees 0 rows)
    val pm = graft.sources.Layout.parquetMetadata(spark, s"$base/p")
    assert(pm.count() > 0, "partitioned parquet layout yielded no rows")
    val names = pm.select("file_name").as[String].collect()
    assert(names.forall(_.startsWith("part=")),
      s"file_name should be root-relative (partition dirs visible): " +
        s"${names.take(2).toSeq}")
    assert(names.map(_.split('/').head).distinct.sorted.toSeq ==
      Seq("part=0", "part=1", "part=2"))
    // per-partition id stats reflect that partition's rows only
    val p1max = pm.filter($"file_name".startsWith("part=1") &&
        $"path_in_schema" === "id")
      .agg(max($"stats_max".cast("long"))).head.getLong(0)
    assert(p1max == 898L, s"part=1 max id was $p1max")
    val om = graft.sources.Layout.orcMetadata(spark, s"$base/o")
    assert(om.count() > 0 &&
      om.select("file_name").as[String].collect()
        .forall(_.startsWith("part=")))

    // driverFileLimit = 0 forces the distributed (mapPartitions) path;
    // identical rows to the driver loop
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    assert(sortedRows(graft.sources.Layout.parquetMetadata(
        spark, s"$base/p", driverFileLimit = 0)) == sortedRows(pm))
    assert(sortedRows(graft.sources.Layout.orcMetadata(
        spark, s"$base/o", driverFileLimit = 0)) == sortedRows(om))
  }

  test("orcStripeMetadata: stripe rows sum to file rows, stripe stats " +
    "bound file stats") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_meta_stripe").toString + "/o"
    spark.range(0, 200000)
      .selectExpr("id", "CAST(id AS DOUBLE) / 2 AS v")
      .coalesce(1)
      .write.option("orc.stripe.size", "65536")
      .option("orc.compress", "NONE").orc(base)
    val sm = graft.sources.Layout.orcStripeMetadata(spark, base)
    val fm = graft.sources.Layout.orcMetadata(spark, base)
    val nStripes = fm.agg(max("file_stripes")).head.getInt(0)
    assert(nStripes > 1, s"fixture produced only $nStripes stripe(s)")
    assert(sm.select("stripe_id").distinct().count() == nStripes)
    // per-stripe row counts sum to the file's
    val fileRows = fm.agg(max("file_rows")).head.getLong(0)
    val stripeRowSum = sm.filter($"column_name" === "id")
      .agg(sum("stripe_rows")).head.getLong(0)
    assert(stripeRowSum == fileRows)
    // min over stripe minima == file min; same for max
    val (fMin, fMax) = fm.filter($"column_name" === "id")
      .select($"stats_min".cast("long"), $"stats_max".cast("long"))
      .as[(Long, Long)].head
    val (sMin, sMax) = sm.filter($"column_name" === "id")
      .agg(min($"stats_min".cast("long")), max($"stats_max".cast("long")))
      .as[(Long, Long)].head
    assert((sMin, sMax) == ((fMin, fMax)))
    // stripes partition the id range disjointly (written sorted)
    val ranges = sm.filter($"column_name" === "id")
      .select($"stripe_id", $"stats_min".cast("long"),
        $"stats_max".cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array(a, b) => a._3 < b._2; case _ => true })
  }

  test("orcMetadata stats stay aligned past nested top-level columns") {
    // A nested column expands into several flattened statistics
    // entries; columns AFTER it must still index their own stats
    // (ADVICE r15: a flat i+1 walk mis-attributes every later column)
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_meta_nested").toString + "/o"
    spark.range(10, 20)
      .selectExpr("id",
        "named_struct('a', id * 2, 'b', CONCAT('x', id)) AS st",
        "array(id, id + 1) AS ar",
        "id * 100 AS tail")
      .coalesce(1).write.orc(base)
    val om = graft.sources.Layout.orcMetadata(spark, base)
      .select("column_name", "stats_min", "stats_max").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(om("id") == (("10", "19")))
    assert(om("tail") == (("1000", "1900")),
      s"tail stats mis-aligned: ${om("tail")}")
    // struct/list containers carry no min/max of their own
    assert(om("st") == ((null, null)) && om("ar") == ((null, null)))
  }

  test("InterleaveBits is the Morton code (hand fixtures + clamping)") {
    import graft.plans.ZOrderImpl.interleave
    assert(interleave(2, Array(0L, 0L)) == 0L)
    assert(interleave(2, Array(1L, 0L)) == 1L)   // x occupies even bits
    assert(interleave(2, Array(0L, 1L)) == 2L)   // y occupies odd bits
    assert(interleave(2, Array(3L, 3L)) == 15L)  // full 2x2-bit block
    assert(interleave(2, Array(2L, 1L)) == 6L)   // 0b10 x 0b01 -> 0b0110
    assert(interleave(2, Array(-5L, 99L)) == interleave(2, Array(0L, 3L)),
      "negatives clamp to 0, overflow clamps to 2^bits-1")
    // 3-dim: dim d sits at bit positions d, d+3, ...
    assert(interleave(1, Array(1L, 0L, 1L)) == 5L)
  }
}

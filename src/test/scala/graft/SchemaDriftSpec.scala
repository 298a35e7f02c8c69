package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

/** The round-9 regression class: the driver silently changed a parquet
  * file's physical type (`events.ts` TIMESTAMP(NANOS) → timestamp[us]) and
  * the engine computed 1970 garbage for a full round. These specs pin that
  * such a change is never silent: `Tables.assertSchemasMatch` names any
  * pinned-vs-file divergence, or a footer Spark cannot read, by table, and
  * a nanos `events` file also fails at its first action. */
class SchemaDriftSpec extends SparkSpec {

  private def scaleDirWith(mutate: (String, String) => Unit): String = {
    val dir = Files.createTempDirectory("drift").toString
    Tables.schemas.keys.foreach { name =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$name.parquet"),
        Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    mutate("/root/testdata/sf0.001", dir)
    dir
  }

  test("assertSchemasMatch passes on the pristine testdata dir") {
    Tables.assertSchemasMatch(spark, "/root/testdata/sf0.001")
    // events.ts must read as a 2024 µs TimestampType — the exact
    // assertion that caught round 9's corruption
    val ev = Tables(spark, "/root/testdata/sf0.001").events
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val mn = ev.agg(min("ts")).head().getTimestamp(0)
    assert(mn.toString.startsWith("2024-"), s"got $mn")
  }

  test("a type-drifted column fails loudly, naming table, column and both types") {
    val dir = scaleDirWith { (src, out) =>
      // corrupt lineitem: l_quantity double → string
      spark.read.parquet(s"$src/lineitem.parquet")
        .withColumn("l_quantity", col("l_quantity").cast("string"))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/tmp_li")
      val part = new java.io.File(s"$out/tmp_li").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$out/lineitem.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val e = intercept[IllegalStateException] {
      Tables.assertSchemasMatch(spark, dir)
    }
    assert(e.getMessage.contains("lineitem.l_quantity"), e.getMessage)
    assert(e.getMessage.contains("DOUBLE") && e.getMessage.contains("STRING"), e.getMessage)
  }

  test("a dropped column is reported as missing") {
    val dir = scaleDirWith { (src, out) =>
      spark.read.parquet(s"$src/region.parquet").drop("r_name")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/tmp_r")
      val part = new java.io.File(s"$out/tmp_r").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$out/region.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val e = intercept[IllegalStateException] {
      Tables.assertSchemasMatch(spark, dir)
    }
    assert(e.getMessage.contains("region.r_name"), e.getMessage)
    assert(e.getMessage.contains("MISSING"), e.getMessage)
  }

  test("a TIMESTAMP(NANOS) events file fails the schema gate and the first action") {
    // the layout the rounds-1-8 generator shipped: an int64 column
    // annotated TIMESTAMP(NANOS, isAdjustedToUTC=false), which Spark
    // cannot write — so the file is written with parquet-mr directly
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.hadoop.fs.{Path => HPath}

    // every pinned column is present, so only the ts layout differs
    val rows = Tables(spark, "/root/testdata/sf0.001").events
      .select(col("event_id"), expr("unix_micros(ts)"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .orderBy("event_id").limit(50).collect()
    val str = LogicalTypeAnnotation.stringType()
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .required(PrimitiveTypeName.INT64).named("user_id")
      .required(PrimitiveTypeName.BINARY).as(str).named("event_type")
      .required(PrimitiveTypeName.DOUBLE).named("value")
      .required(PrimitiveTypeName.BINARY).as(str).named("props")
      .named("events")
    val dir = scaleDirWith { (_, out) =>
      val target = new java.io.File(s"$out/events.parquet")
      target.delete()
      val conf = new org.apache.hadoop.conf.Configuration()
      GroupWriteSupport.setSchema(schema, conf)
      val writer = ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(new HPath(target.getPath), conf))
        .withConf(conf).withType(schema).build()
      val gf = new SimpleGroupFactory(schema)
      rows.foreach { r =>
        writer.write(gf.newGroup().append("event_id", r.getLong(0))
          .append("ts", r.getLong(1) * 1000L).append("user_id", r.getLong(2))
          .append("event_type", r.getString(3)).append("value", r.getDouble(4))
          .append("props", r.getString(5)))
      }
      writer.close()
    }

    val e = intercept[IllegalStateException] {
      Tables.assertSchemasMatch(spark, dir)
    }
    assert(e.getMessage.contains("events: unreadable footer") &&
      e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
    intercept[org.apache.spark.SparkException] {
      Tables(spark, dir).events.agg(min("ts")).head()
    }
  }
}

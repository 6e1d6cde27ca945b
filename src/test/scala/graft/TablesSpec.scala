package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Tables' schema memo: a path read infers its schema with a Spark job
  * the first time a file is read in the JVM and never again, returns
  * what a bare `spark.read.parquet` would, and re-infers when the file
  * or the parquet confs change.
  */
class TablesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** A private temp dir holding `name.parquet` as a copy of `src`. */
  private def copyTo(tmp: Path, name: String, src: Path): Unit =
    Files.copy(src, tmp.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)

  test("the second read of a file starts no job; a rewrite re-infers") {
    val tmp = Files.createTempDirectory("graft_tables_")
    copyTo(tmp, "nation", Path.of(s"$dir/nation.parquet"))
    var first, second: StructType = null
    val j1 = countJobs("tablesspec_first") { first = Tables.nation(spark, tmp.toString).schema }
    val j2 = countJobs("tablesspec_second") { second = Tables.nation(spark, tmp.toString).schema }
    assert(j1 >= 1, "the first read must infer the schema with a job")
    assert(j2 == 0, s"the second read started $j2 jobs")
    assert(second == first)

    // rewrite the file at the same path with one more column
    val out = Files.createTempDirectory("graft_tables_w_").resolve("w").toString
    spark.read.parquet(s"$dir/nation.parquet").selectExpr("*", "1 AS extra")
      .coalesce(1).write.parquet(out)
    val part = Files.list(Path.of(out)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    copyTo(tmp, "nation", part)
    val wider = Tables.nation(spark, tmp.toString)
    assert(wider.schema.fieldNames.toSeq == first.fieldNames.toSeq :+ "extra")
    assert(wider.where("extra = 1").count() == 25L)
  }

  test("every sf0.001 table's memoized schema equals a bare read's; events ts stays TimestampType") {
    val names = new java.io.File(dir).list().filter(_.endsWith(".parquet"))
    assert(names.length == 10)
    for (n <- names.map(_.stripSuffix(".parquet"))) {
      val p = s"$dir/$n.parquet"
      assert(Tables.table(spark, dir, n).schema == spark.read.parquet(p).schema, n)
    }
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
  }

  test("inferTimestampNTZ is part of the key: each setting reads its own type in one JVM") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val tmp = Files.createTempDirectory("graft_tables_ntz_").toString
    // written with parquet-mr, not Spark: a Spark-written file carries
    // its Spark schema in the footer, which inference prefers over the
    // parquet types, so the setting would not apply
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 t (TIMESTAMP(MICROS,false)); }")
    val w = ExampleParquetWriter.builder(new HPath(s"$tmp/ntz.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("t", 1704164645000000L))
    finally w.close()
    val prior = spark.conf.getOption(key)
    try {
      for ((on, want) <- Seq("true" -> TimestampNTZType, "false" -> TimestampType)) {
        spark.conf.set(key, on)
        val df = Tables.table(spark, tmp, "ntz")
        assert(df.schema("t").dataType == want, s"$key=$on")
        assert(df.schema == spark.read.parquet(s"$tmp/ntz.parquet").schema, s"$key=$on")
        assert(df.count() == 1L)
      }
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

package graft

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.GraftCatalog
import graft.sources.SnapshotTable

/** The partition directory spelling round-trips: every directory the
  * layout router writes parses back, through `partValuesOf` and
  * `partCatalystValue`, to exactly the typed values of the rows inside
  * it — for int and bigint values (negatives included), strings that
  * need URL escaping, non-ASCII strings and dates, from a programmatic
  * write and from a SQL dynamic overwrite. A NULL partition value
  * refuses with one message on both paths. */
class PartitionDirSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-partdir").toString
    spark.conf.set("spark.sql.catalog.gpd", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpd.warehouse", dir)
    dir
  }

  private val strings = Seq("a/b", "a b", "100%", "k=v", "x+y", "ünïcødé", "日本", "plain")

  private def rows(tag: String) =
    strings.zipWithIndex.map { case (s, j) =>
      (Seq(-7, 0, 42)(j % 3), Seq(-9000000000L, -1L, 5L)(j % 3), s,
        java.sql.Date.valueOf(Seq("2024-02-29", "1999-12-31")(j % 2)), s"$tag $j")
    }.toDF("i", "l", "s", "d", "v")

  /** Every live file's path decodes to the one typed tuple its rows
    * hold; returns how many distinct tuples the table spells. */
  private def roundTrips(root: String): Int = {
    val types = Seq("i" -> org.apache.spark.sql.types.IntegerType,
      "l" -> org.apache.spark.sql.types.LongType,
      "s" -> org.apache.spark.sql.types.StringType,
      "d" -> org.apache.spark.sql.types.DateType)
    val paths = SnapshotTable.filesDf(spark, root).collect().map(_.getString(0))
    paths.foreach { p =>
      val vals = SnapshotTable.partValuesOf(p)
      assert(vals.keySet == types.map(_._1).toSet, s"$p spells $vals")
      val decoded = types.map { case (c, dt) =>
        SnapshotTable.partCatalystValue(vals(c), dt).getOrElse(
          fail(s"$p: '${vals(c)}' does not parse as $dt"))
      }
      val inFile = spark.read.parquet(s"$root/$p").select("i", "l", "s", "d")
        .distinct().collect().map(r => Seq(r.getInt(0), r.getLong(1),
          UTF8String.fromString(r.getString(2)),
          DateTimeUtils.fromJavaDate(r.getDate(3))))
      assert(inFile.toSeq == Seq(decoded), s"$p holds ${inFile.toSeq}, path says $decoded")
    }
    paths.map(SnapshotTable.partValuesOf).distinct.length
  }

  test("partition directories round-trip every supported type and escape") {
    val root = s"$wh/main/t_rt"
    SnapshotTable.create(spark, root, rows("api").coalesce(1), statsKey = Some("l"),
      partitionCols = Seq("i", "l", "s", "d"))
    assert(roundTrips(root) == strings.size)
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql("INSERT OVERWRITE gpd.main.t_rt SELECT i, l, s, d, " +
      "concat(v, ' sql') FROM gpd.main.t_rt")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert(roundTrips(root) == strings.size)
    assert(spark.sql("SELECT v FROM gpd.main.t_rt WHERE s = '100%'").as[String]
      .collect().toSeq == Seq("api 2 sql"))
  }

  test("a NULL partition value fails with one message from SQL and programmatic writes") {
    val root = s"$wh/main/t_null"
    SnapshotTable.create(spark, root, Seq((1L, "en")).toDF("id", "lang"),
      statsKey = Some("id"), partitionCols = Seq("lang"))
    def message(write: => Unit): String = {
      val e = intercept[Exception](write)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException
          if x.getMessage.contains("NULL in partition column") => x.getMessage }
        .getOrElse(fail(s"no NULL-partition refusal in the cause chain of $e"))
    }
    val nulls = Seq((2L, null: String)).toDF("id", "lang")
    val api = message(SnapshotTable.append(spark, root, nulls))
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val sqlMsg =
      try message(spark.sql("INSERT OVERWRITE gpd.main.t_null " +
        "SELECT 3L, CAST(NULL AS STRING)").collect())
      finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert(api.contains("'lang'"), api)
    assert(api == sqlMsg)
    assert(spark.sql("SELECT id FROM gpd.main.t_null").as[Long].collect().toSeq == Seq(1L))
  }
}

package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** Copy-on-write [[SnapshotTable.merge]] evaluates its update batch
  * exactly once — the write — and takes the prune keys, the survivors
  * anti-join's key set and the constraint check from the files it just
  * wrote. An expensive lazy batch therefore runs once, and a batch
  * that evaluates differently each time still deletes exactly the keys
  * it inserts. */
class MergeEvaluationSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = s"${Files.createTempDirectory("graft-merge-eval")}/t"

  private def seed(root: String): Unit =
    SnapshotTable.create(spark, root,
      spark.range(0, 200).select(col("id"), lit("old").as("payload"))
        .repartitionByRange(4, col("id")),
      statsKey = Some("id"))

  test("merge evaluates the update batch once") {
    val root = tmp()
    seed(root)
    SnapshotTable.addConstraint(spark, root, "id_nonneg", "id >= 0")
    val evals = spark.sparkContext.longAccumulator("merge-eval")
    val bump = udf { (x: Long) => evals.add(1); x }
    val updates = spark.range(50, 80)
      .select(bump(col("id")).as("id"), lit("new").as("payload"))
    SnapshotTable.merge(spark, root, updates, key = "id")
    assert(evals.value == 30L, s"30 update rows, ${evals.value} evaluations")
    val now = SnapshotTable.read(spark, root).as[(Long, String)].collect()
    assert(now.length == 200 && now.map(_._1).toSet == (0L until 200L).toSet)
    assert(now.filter(_._2 == "new").map(_._1).toSet == (50L until 80L).toSet)
  }

  test("a batch whose keys change per evaluation deletes exactly the keys it wrote") {
    val fresh = udf(() => (MergeEvaluationSpec.draws.getAndIncrement() * 7) % 200)
      .asNondeterministic()
    // an executor-side batch, and a local one (the optimizer folds the
    // projection into the local relation anew on every evaluation)
    val batches = Seq(
      () => spark.range(0, 20).repartition(2).toDF("i"),
      () => (0L until 20L).toDF("i"))
    for ((batch, i) <- batches.zipWithIndex) {
      val root = tmp()
      seed(root)
      // a new key per evaluation: draws never repeat within 200 draws
      MergeEvaluationSpec.draws.set(0L)
      val updates = batch().select(fresh().as("id"), lit("new").as("payload"))
      SnapshotTable.merge(spark, root, updates, key = "id")
      val now = SnapshotTable.read(spark, root).as[(Long, String)].collect()
      val counts = now.groupBy(_._1).map { case (k, rs) => k -> rs.length }
      assert(counts.values.forall(_ == 1),
        s"batch $i duplicated keys: ${counts.filter(_._2 > 1).keys.toSeq.sorted.take(10)}")
      val written = now.filter(_._2 == "new").map(_._1).toSet
      val deleted = (0L until 200L).toSet -- now.filter(_._2 == "old").map(_._1)
      assert(written.size == 20, s"batch $i")
      assert(deleted == written, s"batch $i")
    }
  }
}

object MergeEvaluationSpec {
  // executors run in the driver JVM under local[n], so one counter is
  // shared by every task of every evaluation
  val draws = new AtomicLong(0L)
}

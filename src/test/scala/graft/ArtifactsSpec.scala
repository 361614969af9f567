package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Artifacts, Classifier, Dedup}

class ArtifactsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def writeDocs(dir: String, docs: DataFrame): Unit =
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("a corpus rewritten in place is recomputed, not served stale") {
    val all = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val even = all.where(col("doc_id") % 2 === 0)
    val dir = tempDir("artifacts_stale")
    val reference = tempDir("artifacts_ref")
    writeDocs(reference, even)
    val weightsEven = rows(Classifier.perceptronWeights(spark, reference))
    val clustersEven = rows(Dedup.dedupClusters(spark, reference, 8))

    writeDocs(dir, all)
    val weightsAll = rows(Classifier.perceptronWeights(spark, dir))
    val clustersAll = rows(Dedup.dedupClusters(spark, dir, 8))
    assert(weightsAll != weightsEven && clustersAll != clustersEven,
      "the two corpora must train different models for this test to bite")

    writeDocs(dir, even)
    assert(rows(Classifier.perceptronWeights(spark, dir)) == weightsEven,
      "perceptron weights served from the old corpus")
    assert(rows(Dedup.dedupClusters(spark, dir, 8)) == clustersEven,
      "cluster labels served from the old corpus")
  }

  test("concurrent callers of one key build once") {
    val dir = tempDir("artifacts_once")
    val builds = new AtomicInteger(0)
    val calls = (1 to 8).map(_ => Future(
      Artifacts.getOrCompute("spec.once", spark, Seq(dir), 1) {
        builds.incrementAndGet()
        Thread.sleep(200)
        "built"
      }))
    assert(Await.result(Future.sequence(calls), 30.seconds).forall(_ == "built"))
    assert(builds.get == 1)
    Artifacts.clear("spec.once")
  }

  test("a build may read another owner's artifact") {
    val dir = tempDir("artifacts_nested")
    val got = Artifacts.getOrCompute("spec.outer", spark, Seq(dir), ()) {
      Artifacts.getOrCompute("spec.inner", spark, Seq(dir), ())(20) + 1
    }
    assert(got == 21)
    Seq("spec.outer", "spec.inner").foreach(Artifacts.clear)
  }

  test("a build that throws leaves no entry; the next call retries") {
    val dir = tempDir("artifacts_throw")
    val builds = new AtomicInteger(0)
    def call(): Int = Artifacts.getOrCompute("spec.throw", spark, Seq(dir), ()) {
      if (builds.incrementAndGet() == 1) sys.error("first build fails")
      7
    }
    assert(intercept[RuntimeException](call()).getMessage == "first build fails")
    assert(call() == 7)
    assert(call() == 7)
    assert(builds.get == 2)
    Artifacts.clear("spec.throw")
  }

  test("clear(owner) releases that owner's cached and checkpointed blocks only") {
    val dir = tempDir("artifacts_clear")
    val sc = spark.sparkContext
    // distinct row counts keep the two owners' cached plans apart
    def build(n: Int): (DataFrame, DataFrame) = {
      val cached = spark.range(n).toDF("id").cache()
      cached.count()
      (cached, spark.range(n).toDF("id").localCheckpoint())
    }
    def checkpointRdd(df: DataFrame): Int =
      org.apache.spark.sql.GraftBridge.plan(df).collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.get
    val a = Artifacts.getOrCompute("spec.clearA", spark, Seq(dir), ())(build(1000))
    val b = Artifacts.getOrCompute("spec.clearB", spark, Seq(dir), ())(build(2000))
    assert(sc.getPersistentRDDs.contains(checkpointRdd(a._2)))

    Artifacts.clear("spec.clearA")
    assert(a._1.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(!sc.getPersistentRDDs.contains(checkpointRdd(a._2)))
    assert(b._1.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(sc.getPersistentRDDs.contains(checkpointRdd(b._2)))
    assert(Artifacts.getOrCompute[(DataFrame, DataFrame)]("spec.clearB",
      spark, Seq(dir), ())(sys.error("B was cleared")) eq b)
    Artifacts.clear("spec.clearB")
  }
}

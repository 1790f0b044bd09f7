package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Fs, Served}

/** The served-store lifecycle ([[graft.sources.Served]]): a crashed
  * build commits nothing, one key builds once under concurrency, and
  * corpora whose dir strings differ only in punctuation never share a
  * store. */
class ServedSpec extends AnyFunSuite {
  import TestSpark._

  // (a) and (b) key on a dir string only; no corpus is read
  private def freshDir(tag: String) = s"/served-spec/$tag/${System.nanoTime()}"
  private def pathOf(family: String, dir: String) =
    s"/tmp/graft_$family/${Served.key(spark, dir)}"

  test("a build that throws part-way commits nothing; the next call rebuilds it whole") {
    val dir = freshDir("crash")
    val path = pathOf("served_spec", dir)
    intercept[IllegalStateException] {
      Served.store(spark, dir, "served_spec") { p =>
        spark.range(10).write.parquet(s"$p/first_half")
        throw new IllegalStateException("build died mid-write")
      }
    }
    assert(Fs.exists(s"$path/first_half"))
    assert(!Fs.exists(s"$path/${Served.Marker}"))

    val builds = new AtomicInteger
    val served = Served.store(spark, dir, "served_spec") { p =>
      builds.incrementAndGet()
      spark.range(10).write.parquet(s"$p/first_half")
      spark.range(10, 20).write.parquet(s"$p/second_half")
    }
    assert(served == path && builds.get == 1)
    assert(Fs.exists(s"$path/${Served.Marker}"))
    assert(spark.read.parquet(s"$path/first_half", s"$path/second_half")
      .agg(sum(col("id"))).head().getLong(0) == (0L until 20L).sum)

    // committed: later calls serve without building
    Served.store(spark, dir, "served_spec")(_ => builds.incrementAndGet())
    assert(builds.get == 1)
    Fs.delete(path)
  }

  test("8 concurrent callers on one key run the build once and get one path") {
    val dir = freshDir("concurrent")
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          go.await()
          Served.store(spark, dir, "served_spec") { p =>
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others arrive
            Fs.writeString(s"$p/data", "x")
          }
        }
      }))
      go.countDown()
      val paths = calls.map(_.get(60, TimeUnit.SECONDS)).toSet
      assert(builds.get == 1)
      assert(paths == Set(pathOf("served_spec", dir)))
      Fs.delete(paths.head)
    } finally pool.shutdownNow()
  }

  test("/data/sf and /data-sf get distinct IVF-PQ and BPE stores") {
    val base = java.nio.file.Files.createTempDirectory("served-spec").toString
    val (a, b) = (s"$base/data/sf", s"$base/data-sf")
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      emb.write.parquet(s"$a/embeddings.parquet")
      docs.write.parquet(s"$a/documents.parquet")
      // b differs from a: a third of the ANN corpus gone, every text
      // reversed, so a store built for one would answer wrongly for the other
      emb.filter(col("vec_id") < 5 || col("vec_id") % 3 =!= 1)
        .write.parquet(s"$b/embeddings.parquet")
      docs.withColumn("text", reverse(col("text")))
        .write.parquet(s"$b/documents.parquet")
      def rows(q: String, dir: String): Seq[String] =
        QueriesLlm.queries(q)(spark, dir).collect().map(_.toString).toSeq.sorted
      for (dir <- Seq(a, b)) {
        assert(rows("q_sim_ivfpq_served", dir) == rows("q_sim_ivfpq", dir), dir)
        assert(rows("q_bpe_tokenize_served", dir) == rows("q_bpe_tokenize", dir), dir)
      }
      for (family <- Seq("ivfpq_index", "bpe_model")) {
        val (pa, pb) = (pathOf(family, a), pathOf(family, b))
        assert(pa != pb && Fs.exists(s"$pa/${Served.Marker}") &&
          Fs.exists(s"$pb/${Served.Marker}"), family)
      }
    } finally Fs.delete(base)
  }
}

package graft.sources

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkFunSuite
import graft.sources.ArtifactRegistry.Kind

/** The build-once contract of [[ArtifactRegistry]]: one build per key
  * under contention, builds that fetch other keys, no value stored by a
  * failed build, params as part of the key — and, end to end, a
  * standing model the query layer trains once per dataset dir.
  */
class ArtifactRegistrySpec extends SparkFunSuite {

  private val Num = new Kind[Int]("test number")

  test("8 threads on one key produce exactly one build") {
    val reg = new ArtifactRegistry
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          reg(Num, "/d") { builds.incrementAndGet(); Thread.sleep(200); 42 }
        })
      }
      start.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)).toSet == Set(42))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("a build that fetches another key of the same registry completes") {
    // the IVFPQ index → PQ codebooks shape: ConcurrentHashMap forbids
    // this inside computeIfAbsent's mapping function
    val reg = new ArtifactRegistry
    val Index = new Kind[String]("test index")
    val pool = Executors.newSingleThreadExecutor()
    try {
      val f = pool.submit(() =>
        reg(Index, "/d")(s"index over ${reg(Num, "/d")(7)}"))
      assert(f.get(30, TimeUnit.SECONDS) == "index over 7")
      assert(reg(Num, "/d")(fail("codebooks must already be built")) == 7)
    } finally pool.shutdownNow()
  }

  test("a throwing build caches nothing; the next call builds") {
    val reg = new ArtifactRegistry
    val builds = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      reg(Num, "/d") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(reg(Num, "/d") { builds.incrementAndGet(); 5 } == 5)
    assert(reg(Num, "/d") { builds.incrementAndGet(); 6 } == 5)
    assert(builds.get == 2)
  }

  test("params are part of the key: (dir, nlist = 16) and (dir, nlist = 23) are distinct") {
    val reg = new ArtifactRegistry
    assert(reg(Num, "/d", 16)(16) == 16)
    assert(reg(Num, "/d", 23)(23) == 23)
    assert(reg(Num, "/d", 16)(-1) == 16)
    assert(reg(Num, "/e", 16)(-2) == -2)
    // same name, different kind: a kind is its own namespace
    assert(reg(new Kind[Int]("test number"), "/d", 16)(-3) == -3)
  }

  test("a second s_pq_ann construction on the same dir submits no training job") {
    // a private copy of the embeddings, so this spec's first
    // construction is the one that trains the process-wide codebooks
    val dir = tmpDir("graft_registry_")
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .write.parquet(s"$dir/embeddings.parquet")
    val q = graft.queries.SimilarityQueries.defs("s_pq_ann")
    val first = jobsDuring(q(spark, dir))
    val second = jobsDuring(q(spark, dir))
    // the parquet schema-inference job of the embeddings read is the
    // construction's only other job; it recurs on every construction
    val read = jobsDuring(Sources.fannedTable(spark, dir, "embeddings", "vec_id"))
    assert(first > read, "the first construction trains the PQ codebooks")
    assert(second == read,
      s"second construction ran $second job(s), the embeddings read $read")
  }
}

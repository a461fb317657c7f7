package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** [[Scaffold]]'s contract on an instance with its own root (nested under
  * the JVM-wide one), plus the SparkEntry stores that stage through the
  * JVM-wide instance. */
class ScaffoldSpec extends SparkTestBase {
  private def scaffold() = new Scaffold(() => Paths.get(tmpDir("scaffoldspec")))

  test("once builds exactly once when two threads race on one key") {
    val sc = scaffold()
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fs = (1 to 2).map(_ => pool.submit(() => {
        go.await()
        sc.once("race#k") { out =>
          builds.incrementAndGet()
          Thread.sleep(200)
          Files.writeString(Paths.get(out, "done"), "x")
        }
      }))
      go.countDown()
      val dirs = fs.map(_.get(30, TimeUnit.SECONDS))
      builds.get shouldBe 1
      dirs.distinct should have size 1
      Files.exists(Paths.get(dirs.head, "done")) shouldBe true
    } finally { pool.shutdownNow(); sc.close() }
  }

  test("distinct keys and fresh calls give distinct dirs under the root") {
    val sc = scaffold()
    try {
      val dirs = Seq(sc.once("a#1")(_ => ()), sc.once("a#2")(_ => ()),
        sc.once("b#1")(_ => ()), sc.fresh("a"), sc.fresh("a"))
      dirs.distinct should have size dirs.size
      all(dirs.map(d => Paths.get(d).getParent)) shouldBe sc.rootDir
      sc.once("a#1")(_ => fail("rebuilt a built key")) shouldBe dirs.head
      Paths.get(dirs.head).getFileName.toString should startWith ("a")
    } finally sc.close()
  }

  test("a build that throws memoizes nothing and leaves no dir") {
    val sc = scaffold()
    try {
      val err = intercept[IllegalStateException] {
        sc.once("boom#k")(_ => throw new IllegalStateException("boom"))
      }
      err.getMessage shouldBe "boom"
      Files.list(sc.rootDir).iterator().asScala.toList shouldBe empty
      var built = 0
      sc.once("boom#k")(_ => built += 1)
      built shouldBe 1
    } finally sc.close()
  }

  test("close removes the root and a later once rebuilds under a new one") {
    val sc = scaffold()
    var builds = 0
    val first = sc.once("k#1")(_ => builds += 1)
    val root = sc.rootDir
    sc.close()
    Files.exists(root) shouldBe false
    val second = sc.once("k#1")(_ => builds += 1)
    builds shouldBe 2
    second should not be first
    Files.isDirectory(Paths.get(second)) shouldBe true
    sc.close()
    Files.exists(Paths.get(second)) shouldBe false
  }

  private val sf = "/root/testdata/sf0.001"
  private val available = new java.io.File(sf).isDirectory

  test("a store-backed query (q117) stages its store under the JVM root") {
    assume(available, s"$sf not present on this machine")
    SparkEntry.queries("q117_minhash_store_exact")(spark, sf).count()
    Files.list(Scaffold.rootDir).iterator().asScala
      .exists(_.getFileName.toString.startsWith("q117sig")) shouldBe true
  }

  test("stagedPath with one part gives events as a single normalized file") {
    assume(available, s"$sf not present on this machine")
    import org.apache.spark.sql.types.TimestampType
    val p = SparkEntry.stagedPath(spark, sf, "events", parts = 1)
    Paths.get(p).startsWith(Scaffold.rootDir) shouldBe true
    Files.list(Paths.get(p)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")) shouldBe 1
    spark.read.parquet(p).schema("ts").dataType shouldBe TimestampType
    // the unstaged non-events tables still resolve to the raw path
    SparkEntry.stagedPath(spark, sf, "documents", parts = 1) shouldBe
      s"$sf/documents.parquet"
  }
}

package graft

/** [[ArtifactRegistry.memo]]'s contract and the [[Session]] config, on
  * `test:`-prefixed keys so the registry counts the query sweep reads
  * (ArtifactBuildOnceSpec) are untouched. */
class ArtifactRegistrySpec extends SparkSpec {

  private def builds(key: String): Int =
    ArtifactRegistry.snapshot().get(key).fold(0)(_._1)

  test("a cache hit records no second build") {
    var runs = 0
    def get() = ArtifactRegistry.memo("test:hit") { runs += 1; "v" }
    get() shouldBe "v"
    get() shouldBe "v"
    runs shouldBe 1
    builds("test:hit") shouldBe 1
  }

  test("a build may memo another key; each key builds once") {
    def inner() = ArtifactRegistry.memo("test:inner") { Thread.sleep(200); 20 }
    def outer() = ArtifactRegistry.memo("test:outer")(inner() + 1)
    outer() shouldBe 21
    outer() shouldBe 21
    inner() shouldBe 20
    builds("test:outer") shouldBe 1
    builds("test:inner") shouldBe 1
    // seconds are each build's own: the nested build is not charged twice
    val secs = ArtifactRegistry.history().map(e => e.key -> e.seconds).toMap
    secs("test:inner") should be >= 0.2
    secs("test:outer") should be < 0.2
  }

  test("session-bound entries rebuild under a new session; JVM-scoped ones do not") {
    val other = spark.newSession()
    def bound(s: org.apache.spark.sql.SparkSession) =
      ArtifactRegistry.memo("test:bound", Some(s))(s.range(3).toDF("n"))
    def jvm(s: org.apache.spark.sql.SparkSession) =
      ArtifactRegistry.memo("test:jvm")(s.range(3).count())
    bound(spark).sparkSession should be theSameInstanceAs spark
    bound(spark)
    jvm(spark) shouldBe 3L
    builds("test:bound") shouldBe 1
    bound(other).sparkSession should be theSameInstanceAs other
    jvm(other) shouldBe 3L
    builds("test:bound") shouldBe 2
    builds("test:jvm") shouldBe 1
    // back on the first session: bound to `other` now, so it rebuilds again
    bound(spark).sparkSession should be theSameInstanceAs spark
    builds("test:bound") shouldBe 3
  }

  test("Session.local(4) carries the engine config") {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.master shouldBe "local[4]"
    s.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    s.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    s.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    s.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
  }
}

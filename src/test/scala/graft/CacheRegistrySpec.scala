package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel
import graft.index.Resources
import graft.ontology.CorpusOntology
import graft.util.CacheRegistry

/** Driver-query state: a memo entry is built once per (session, key) and
  * lives until its application ends; a registered Dataset lives until
  * `releaseAll`. */
class CacheRegistrySpec extends AnyFunSuite with SparkTestBase {

  test("memo builds once per (session, key)") {
    var builds = 0
    def memo(s: org.apache.spark.sql.SparkSession, key: String) =
      CacheRegistry.memo(s, ("CacheRegistrySpec", key)) { builds += 1; s.range(3).toDF() }
    val first = memo(spark, "a")
    assert(memo(spark, "a") eq first)
    assert(builds == 1)
    val other = spark.newSession()
    assert(memo(other, "a") ne first)
    assert(builds == 2)
    assert(memo(other, "a") eq memo(other, "a"))
    assert(builds == 2)
    memo(spark, "b")
    assert(builds == 3)
  }

  test("equal bundles share one broadcast; another version gets its own") {
    def build(version: String) = Resources.build(CorpusOntology.rows,
      CorpusOntology.entityClassOf, CorpusOntology.CommonWords, version)
    val (a, b) = (build("synthetic-ontology/1"), build("synthetic-ontology/1"))
    assert((a ne b) && a == b)
    val bc = SparkEntry.broadcastResources(spark, a)
    assert(SparkEntry.broadcastResources(spark, b) eq bc)
    assert(SparkEntry.broadcastResources(spark, build("other/1")) ne bc)
  }

  test("evicting a context unpersists its memo entries; registered Datasets wait for releaseAll") {
    var builds = 0
    def memo() = CacheRegistry.memo(spark, ("CacheRegistrySpec", "evict")) {
      builds += 1
      spark.range(5).toDF().persist(StorageLevel.MEMORY_ONLY)
    }
    val memoized = memo()
    assert(memoized.count() == 5 && memoized.storageLevel == StorageLevel.MEMORY_ONLY)
    val registered = CacheRegistry.register(
      spark.range(7).toDF().persist(StorageLevel.MEMORY_ONLY))
    assert(registered.count() == 7)

    CacheRegistry.evict(spark.sparkContext)
    assert(memoized.storageLevel == StorageLevel.NONE)
    assert(registered.storageLevel == StorageLevel.MEMORY_ONLY)
    assert(memo() ne memoized)
    assert(builds == 2)

    CacheRegistry.releaseAll()
    assert(registered.storageLevel == StorageLevel.NONE)
  }

  test("after materializeShared, kg_triples reads the persisted triples") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.materializeShared(spark, dir)
    val entries = CacheRegistry.memoCount
    val plan = SparkEntry.queries("kg_triples")(spark, dir).queryExecution.withCachedData
    val cached = plan.collect { case r: InMemoryRelation => r.output.map(_.name) }
    assert(cached.exists(_.contains("subj")), s"no cached triples under $plan")
    assert(CacheRegistry.memoCount == entries)
  }
}

package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec
import graft.analytics.Sketches
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** The [[CatalogStore]] contract, store by store: a write or absorb that
  * fails partway surfaces its error, leaves no cache behind and frees
  * the lease for the next writer; and a store is only extended or read
  * under the family it was built with. */
class CatalogStoreSpec extends SparkSpec {
  import spark.implicits._

  private val sinks = "/tmp/graft_test_sinks/catalogstore"

  /** Three docs plus a 64-bit hash column, read back from parquet so
    * every projection over them runs in tasks, not in the optimizer. */
  private lazy val input: String = {
    val p = s"$sinks/input"
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "web", 40L),
      (2L, "iota kappa lambda mu nu xi omicron pi rho sigma", "web", 48L),
      (3L, "tau upsilon phi chi psi omega alef bet gimel", "books", 44L),
      (4L, "alpha beta gamma delta epsilon zeta eta iota", "web", 42L)
    ).toDF("doc_id", "text", "source", "n_chars")
      .withColumn("ph", xxhash64(col("text")))
      .write.mode("overwrite").parquet(p)
    p
  }
  private def docs: DataFrame =
    spark.read.parquet(input).filter(col("doc_id") < 4L)
  private def shard: DataFrame =
    spark.read.parquet(input).filter(col("doc_id") === 4L)

  /** `docs` whose every column but the id raises in the task that reads
    * doc 3: a write that fails after its jobs started. */
  private def failing: DataFrame = {
    val d = docs
    d.select(d.columns.map { c =>
      if (c == "doc_id") col(c)
      else when(col("doc_id") === 3L, raise_error(lit("injected failure")))
        .otherwise(col(c)).as(c)
    }: _*)
  }

  /** `f` fails with a cause chain naming `msg`; afterwards no cache is
    * left and the lease of `store` is free. */
  private def failsCleanly(store: String, msg: String)(f: => Unit): Unit = {
    val e = intercept[Exception](f)
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    withClue(chain.mkString(" <- ")) {
      chain.exists(_.contains(msg)) shouldBe true
    }
    Bridge.cacheIsEmpty(spark) shouldBe true
    val lease = StoreLease.forTable(spark, store)
    lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(lease) shouldBe false
  }

  /** Replace `table` by a NON-bucketed copy that keeps its `graft.*`
    * properties, so a later bucketed append into it throws. */
  private def unbucket(table: String): Unit = {
    val t = spark.table(table)
    val rows = t.collect()
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1))
      .filter(_._1.startsWith("graft."))
    spark.sql(s"DROP TABLE $table")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), t.schema)
      .write.mode("overwrite").option("path", s"$sinks/plain/$table")
      .format("parquet").saveAsTable(table)
    if (props.nonEmpty) spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES(" +
      props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
  }

  private def dropping(tables: String*)(body: => Unit): Unit =
    try body finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("signature store: a failed write or a half-done absorb leaks no " +
    "cache and frees the lease") {
    val p = "graft_cs_sig"
    dropping(s"${p}_bands", s"${p}_shingles") {
      failsCleanly(p, "injected failure") {
        Dedup.writeSignatureStore(failing, "doc_id", "text", p, s"$sinks/sig")
      }
      Dedup.writeSignatureStore(docs, "doc_id", "text", p, s"$sinks/sig")
      unbucket(s"${p}_shingles")
      // the bands append succeeds, the shingles append then throws
      failsCleanly(p, s"${p}_shingles") {
        Dedup.absorbIntoSignatureStore(shard, "doc_id", "text", p)
      }
      Dedup.writeSignatureStore(docs, "doc_id", "text", p, s"$sinks/sig")
    }
  }

  test("image signature store: a failed write or a half-done absorb " +
    "leaks no cache and frees the lease") {
    val p = "graft_cs_img"
    dropping(s"${p}_ibands", s"${p}_ihashes") {
      failsCleanly(p, "injected failure") {
        Dedup.writeImageSignatureStore(failing, "doc_id", "ph", p,
          s"$sinks/img")
      }
      Dedup.writeImageSignatureStore(docs, "doc_id", "ph", p, s"$sinks/img")
      unbucket(s"${p}_ihashes")
      failsCleanly(p, s"${p}_ihashes") {
        Dedup.absorbIntoImageSignatureStore(shard, "doc_id", "ph", p)
      }
      Dedup.writeImageSignatureStore(docs, "doc_id", "ph", p, s"$sinks/img")
    }
  }

  test("substring store: a failed write or absorb leaks no cache and " +
    "frees the lease") {
    val p = "graft_cs_sub"
    dropping(s"${p}_seeds") {
      failsCleanly(p, "injected failure") {
        Dedup.writeSubstringStore(failing, "doc_id", "text", p,
          s"$sinks/sub", seedN = 3)
      }
      Dedup.writeSubstringStore(docs, "doc_id", "text", p, s"$sinks/sub",
        seedN = 3)
      unbucket(s"${p}_seeds")
      failsCleanly(p, s"${p}_seeds") {
        Dedup.absorbIntoSubstringStore(shard, "doc_id", "text", p, seedN = 3)
      }
      Dedup.writeSubstringStore(docs, "doc_id", "text", p, s"$sinks/sub",
        seedN = 3)
    }
  }

  test("quantile store: a failed write or absorb leaks no cache and " +
    "frees the lease") {
    val t = "graft_cs_qsk"
    def write(d: DataFrame): Unit = Sketches.writeQuantileStore(d,
      "source", "doc_id", "n_chars", k = 8, t, s"$sinks/qsk")
    dropping(t) {
      failsCleanly(t, "injected failure")(write(failing))
      write(docs)
      unbucket(t)
      failsCleanly(t, t) {
        Sketches.absorbIntoQuantileStore(shard, "source", "doc_id",
          "n_chars", k = 8, t)
      }
      write(docs)
    }
  }

  test("LM store: a failed write leaks no cache and frees the lease") {
    val t = "graft_cs_lm"
    dropping(t) {
      failsCleanly(t, "injected failure") {
        TextAnalysis.writeLmStore(failing, "text", t, s"$sinks/lm")
      }
      TextAnalysis.writeLmStore(docs, "text", t, s"$sinks/lm")
    }
  }

  test("family: a store is extended and read only under the parameters " +
    "it was built with; a store with no family is refused") {
    val p = "graft_cs_fam"
    dropping(s"${p}_bands", s"${p}_shingles", s"${p}_seeds", "graft_cs_plain") {
      Dedup.writeSignatureStore(docs, "doc_id", "text", p, s"$sinks/fam",
        k = 12)
      val before = spark.table(s"${p}_bands").count()
      val ea = intercept[IllegalArgumentException] {
        Dedup.absorbIntoSignatureStore(shard, "doc_id", "text", p, k = 16)
      }
      ea.getMessage should include("k=12")
      ea.getMessage should include("k=16")
      spark.table(s"${p}_bands").count() shouldBe before
      intercept[IllegalArgumentException] {
        Dedup.dedupShardAgainst(shard, "doc_id", "text", p, 0.5,
          shingleN = 4)
      }.getMessage should include("shingleN=3")
      // the same family passes both
      Dedup.absorbIntoSignatureStore(shard, "doc_id", "text", p, k = 12)
      spark.table(s"${p}_bands").count() should be > before

      // a substring store whose family was never recorded
      Dedup.writeSubstringStore(docs, "doc_id", "text", p, s"$sinks/fam",
        seedN = 3)
      spark.sql(s"ALTER TABLE ${p}_seeds UNSET TBLPROPERTIES(" +
        "'graft.sub.seedn')")
      val em = intercept[IllegalStateException] {
        Dedup.absorbIntoSubstringStore(shard, "doc_id", "text", p,
          seedN = 3)
      }
      em.getMessage should include("graft.sub.seedn")
      em.getMessage should include("writeSubstringStore")

      // a table no store writer made is not an LM store
      docs.select(col("text").as("tok"), col("n_chars").as("cnt"))
        .write.mode("overwrite").option("path", s"$sinks/plain_lm")
        .format("parquet").saveAsTable("graft_cs_plain")
      intercept[IllegalStateException] {
        TextAnalysis.surprisalAgainstStore(shard, "doc_id", "text",
          "graft_cs_plain")
      }.getMessage should include("writeLmStore")
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.OCDataset
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.Similarity
import graft.plans.GraftExtensions
import graft.spatial.{Healpix, Morton, Region}

/** Kernel Columns carry their own expression: they resolve on a session
  * whose function registry has never heard of a `graft_*` name, and
  * give the same rows there as on the shared session. */
class KernelColumnSpec extends SparkSpec {

  private lazy val fresh: SparkSession = spark.newSession()

  private def graftFunctions(s: SparkSession): Seq[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `build` on a frame of each session gives the same non-empty rows. */
  private def sameOnFresh(build: SparkSession => DataFrame): Unit = {
    val want = rows(build(spark))
    assert(want.nonEmpty)
    assert(rows(build(fresh)) == want)
  }

  test("text kernels resolve on a session where nothing is registered") {
    sameOnFresh { s =>
      import s.implicits._
      Seq((1L, "ab cd ab cd ab x"), (2L, "Hello, World!! the the the"), (3L, ""))
        .toDF("id", "text")
        .select(col("id"),
          TextFunctions.charEntropy(col("text")),
          TextFunctions.compressionRatio(col("text")),
          TextFunctions.repetitionSignals(col("text")),
          TextFunctions.passesGopherRepetitionFilter(col("text")),
          TextFunctions.normalizeTextNative(col("text")))
    }
    assert(graftFunctions(fresh).isEmpty)
  }

  test("vector and spatial kernels resolve on a session where nothing is registered") {
    sameOnFresh { s =>
      Tables(s, sf001, "embeddings").limit(20).select(col("vec_id"),
        VectorFunctions.randomProjectMd5QKernel(col("embedding"), 8, 64))
    }
    sameOnFresh { s =>
      import s.implicits._
      Seq((1.0, 2.0, 3.0), (87.3, 12.9, 55.5)).toDF("x", "y", "z")
        .select(Morton.keyColumnNative(col("x"), col("y"), col("z"), 0.0, 100.0, 6))
    }
    val nside = 8
    val pixels = Set(Healpix.ang2pixNest(nside, 45.0, 30.0))
    sameOnFresh { s =>
      import s.implicits._
      val pts = Seq((1L, 45.0, 30.0), (2L, 225.0, -30.0), (3L, 45.1, 30.05))
        .toDF("id", "ra", "dec")
      OCDataset(pts).boundSky(Region.HealpixRegion(nside, pixels)).df
    }
    assert(graftFunctions(fresh).isEmpty)
  }

  test("an operator runs on a session where nothing is registered") {
    sameOnFresh { s =>
      val e = Tables(s, sf001, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
    }
    assert(graftFunctions(fresh).isEmpty)
  }

  test("an unknown kernel fails when its Column is built, naming the kernel") {
    val e = intercept[IllegalArgumentException](
      GraftExtensions.call("graft_no_such_kernel", col("x")))
    assert(e.getMessage.contains("graft_no_such_kernel"), e.getMessage)
  }
}

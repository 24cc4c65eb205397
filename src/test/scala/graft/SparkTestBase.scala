package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for integration specs (one per suite;
  * cheap after the first JVM-wide context). */
trait SparkTestBase extends AnyFunSuite {

  /** The mains' session ([[GraftSession]]: same extensions, UTC,
    * nanos mapping and raw local FS), pinned at 4 threads. */
  lazy val spark: SparkSession = GraftSession.local(4, getClass.getSimpleName)

  /** Register the graft V2 catalog on the shared session (idempotent;
    * the catalog instantiates lazily per conf). */
  protected def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)

  val sfDir = "/root/testdata/sf0.001"
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local-session base for all suites: the production
  * [[GraftSession]] config on 4 cores, plus a temp warehouse dir.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .appName(getClass.getSimpleName)
    .getOrCreate()

  /** sf0.001 testdata — the smallest scale; specs assert semantics. */
  val sf: String = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM (getOrCreate); don't stop.
    super.afterAll()
  }
}

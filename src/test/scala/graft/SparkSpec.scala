package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; sf0.001 testdata for speed. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** A sibling scale-factor dir of [[sfDir]] (e.g. "sf0.1"), resolved
    * through the same root rather than re-hardcoded per spec; None
    * when the tier is absent on this box so callers `assume` instead
    * of failing on machine-local state.
    */
  def siblingSfDir(name: String): Option[String] = {
    val p = java.nio.file.Paths.get(sfDir).resolveSibling(name)
    if (java.nio.file.Files.isDirectory(p)) Some(p.toString) else None
  }
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession(4)
}

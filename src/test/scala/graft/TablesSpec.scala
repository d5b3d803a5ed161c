package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.register` memoizes the dir each session's views point at. */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = GraftSpark.spark

  test("a register that throws is not memoized: the next call throws again") {
    val dir = Files.createTempDirectory("graft-tables-")
    Files.copy(Paths.get(Tables.path(GraftSpark.sf, "region")),
      dir.resolve("region.parquet"))
    Files.writeString(dir.resolve("nation.parquet"), "not a parquet file")
    try {
      intercept[Exception](Tables.register(spark, dir.toString))
      // `region` now reads `dir` and the other views the previous dir; a
      // memoized register would skip and leave that mix in place
      intercept[Exception](Tables.register(spark, dir.toString))
    } finally {
      Tables.register(spark, GraftSpark.sf)
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }
}

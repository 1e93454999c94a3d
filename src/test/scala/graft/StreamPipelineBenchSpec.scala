package graft

import java.io.File

class StreamPipelineBenchSpec extends SparkSpec {

  test("bench run streams every page and leaves no graft-bench temp dir behind") {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def benchDirs() = tmp.list().filter(_.startsWith("graft-bench-")).toSet
    val before = benchDirs()
    val r = StreamPipelineBench.run(spark, 4000, 2, filesPerTrigger = 2, nFiles = 4)
    assert(r.rows == 4000)
    val left = benchDirs() -- before
    assert(left.isEmpty, s"temp dirs left behind: ${left.mkString(", ")}")
  }
}

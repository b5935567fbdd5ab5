package graft

import org.apache.spark.SparkConf

/** A cached `GraftSession.local` keeps the running context's core confs;
  * the comparison behind its warning names exactly the keys that differ.
  */
class GraftSessionSpec extends SparkSpec {

  test("a cached getOrCreate names the core confs the running context " +
    "keeps") {
    val s = GraftSession.local("graft-test", nCpus = 4)
    assert(s eq spark, "the second call must hit the cached session")
    assert(GraftSession.ignoredCoreConfs(s.sparkContext.getConf).isEmpty,
      "the suite's own session runs graft's core confs")
    val other = s.sparkContext.getConf.clone
      .set("spark.shuffle.sort.bypassMergeThreshold", "-1")
    assert(GraftSession.ignoredCoreConfs(other) ===
      Seq("spark.shuffle.sort.bypassMergeThreshold"))
    assert(GraftSession.ignoredCoreConfs(new SparkConf(false)) ===
      Seq("spark.hadoop.fs.file.impl",
        "spark.shuffle.sort.bypassMergeThreshold"))
  }
}

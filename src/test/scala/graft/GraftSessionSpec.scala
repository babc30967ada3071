package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.plans.CoBucketedWrite

/** GraftSession is the one place a session is built: these pins keep the
  * session shape every spec, main and harness shares from drifting apart
  * again (shuffle width tied to the master width, one install of the
  * co-bucketed write rule, no second builder or system-property knob). */
class GraftSessionSpec extends SparkSpec {

  test("shuffle partitions equal the master width") {
    val width = """local\[(\d+)\]""".r
      .findFirstMatchIn(spark.sparkContext.master).map(_.group(1).toInt)
    assert(width.contains(SparkSpec.cpus), spark.sparkContext.master)
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      SparkSpec.cpus.toString)
  }

  test("get installs the co-bucketed write rule once however often it runs") {
    try {
      val a = GraftSession.get("graft-test", SparkSpec.cpus)
      val b = GraftSession.get("graft-test", SparkSpec.cpus)
      assert((a eq spark) && (b eq spark))
      assert(spark.experimental.extraOptimizations
        .count(_ == CoBucketedWrite) == 1)
    } finally spark.sparkContext.setLogLevel("ERROR")
  }

  test("registering the test tables keeps no session alive") {
    def register(): java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession] = {
      val s = spark.newSession()
      Tables.registerAll(s, sfDir)
      assert(s.catalog.tableExists("events"))
      new java.lang.ref.WeakReference(s)
    }
    val refs = Seq.fill(3)(register())
    val deadline = System.currentTimeMillis() + 30000L
    while (refs.exists(_.get != null) && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(refs.forall(_.get == null),
      s"${refs.count(_.get != null)} of ${refs.size} sessions still reachable")
  }

  test("main code builds sessions and reads graft system properties nowhere else") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.exists(_.getFileName.toString == "core.scala"))
    def offends(f: Path): Boolean = {
      val text = Files.readString(f)
      text.contains("SparkSession.builder()") ||
        text.contains("sys.props.get(\"graft.")
    }
    val offenders = files
      .filter(f => f.getFileName.toString != "core.scala" && offends(f))
    assert(offenders.isEmpty, s"session builders or knobs outside " +
      s"GraftSession: ${offenders.mkString(", ")}")
  }
}

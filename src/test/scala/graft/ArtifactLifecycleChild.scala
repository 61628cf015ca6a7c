package graft

/** Forked-JVM side of ArtifactsSpec's lifecycle case: builds one
  * [[Artifacts.table]], records its directory, its rows and whether the
  * directory existed, then stops the session and exits. The parent then
  * checks that the directory is gone. Runs under the test classpath
  * (`java.class.path` of the forked ScalaTest JVM), so it needs no
  * packaging step.
  */
object ArtifactLifecycleChild {
  def main(args: Array[String]): Unit = {
    val flagDir = new java.io.File(args(0))
    def flag(name: String, value: String): Unit =
      java.nio.file.Files.write(new java.io.File(flagDir, name).toPath,
        value.getBytes("UTF-8")): Unit
    val spark = GraftSession.local(cpus = "2", appName = "artifact-lifecycle-child")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val df = Artifacts.table(spark, "lifecycle", "k")(Seq((1L, "child")).toDF("k", "who"))
    val dir = new java.io.File(new java.net.URI(df.inputFiles.head)).getParentFile
    flag("artifact-dir", dir.getAbsolutePath)
    flag("existed", dir.isDirectory.toString)
    flag("rows", df.collect().map(r => s"${r.getLong(0)}:${r.getString(1)}").mkString(","))
    spark.stop()
    sys.exit(0) // don't let a lingering non-daemon thread hang the fork
  }
}

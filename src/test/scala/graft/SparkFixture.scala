package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (JVM-forked by sbt), under
  * the engine's own [[Session]] policy. */
object SparkTest {
  lazy val session: SparkSession = {
    val s = Session.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkFixture {
  lazy val spark: SparkSession = SparkTest.session

  /** Run EVERY registry query against `dir` through a noop sink (so all
    * output columns materialize — a bare count() would let Catalyst prune
    * the subtrees under test), returning "name: first error line" per
    * failure. Shared by RegistrySmokeSpec (sf0.001 data) and
    * EmptyCorpusSpec (empty tables) so the two tripwires drive queries
    * identically and cannot drift. */
  protected def runRegistry(dir: String): Seq[String] =
    graft.queries.Registry.all.flatMap { q =>
      try {
        q.fn(spark, dir).write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          Some(s"${q.name}: ${msg.linesIterator.nextOption().getOrElse("")}")
      }
    }
}

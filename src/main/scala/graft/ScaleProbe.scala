package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale run over the registry: a healthy query scales ≈ N×, a band/bucket
  * blow-up ≈ N². Writes the sf0.1 corpus replicated N× as an sf-shaped
  * directory (`target/scaleprobe/x<factor>/`), then times each named
  * registry query over sf0.1 (1×) and over that directory (N×) through
  * [[Prof.measure]], and prints one line per query: both times, the
  * exponent log(tN/t1)/log N, and jobs, shuffle and spill at N×.
  *
  * Usage: runMain graft.ScaleProbe <factor> <query>[,<query>...]
  *
  * Citable numbers come from one query per JVM (README "Running"): in one
  * long JVM each later query inherits the earlier ones' heap and
  * MemoryStore state despite [[Session.reset]] and a GC between legs.
  */
object ScaleProbe {
  /** Replicated N×, each replica under fresh ids. */
  private val replicated: Seq[String] = Seq("documents", "embeddings", "events")
  /** Copied into the N× directory as they are. */
  val unchanged: Seq[String] =
    Seq("customer", "lineitem", "nation", "orders", "part", "region", "supplier")

  /** `df` N times, with `idCols` shifted to a disjoint range per replica
    * and `vary(i)` applied to replica `i`. */
  private def replicate(df: DataFrame, n: Int, idCols: Seq[String])(
      vary: (DataFrame, Int) => DataFrame): DataFrame = {
    val spans = idCols.map { c =>
      val r = df.agg(min(col(c)), max(col(c))).head()
      c -> (if (r.isNullAt(0)) 0L else r.getLong(1) - r.getLong(0) + 1)
    }
    (0 until n).map { i =>
      vary(spans.foldLeft(df) { case (d, (c, span)) =>
        d.withColumn(c, col(c) + lit(i * span))
      }, i)
    }.reduce(_ unionByName _)
  }

  /** A replica-marker token prefixes the text, so replicas are near- but
    * not exact dups of each other (keeps dedup joins honest). */
  private def replicateDocs(docs: DataFrame, n: Int): DataFrame =
    replicate(docs, n, Seq("doc_id")) { (d, i) =>
      d.withColumn("text", concat(lit(s"r$i "), col("text")))
    }

  /** Each replica's vectors are jittered by a replica-sized offset. */
  private def replicateVecs(vecs: DataFrame, n: Int): DataFrame =
    replicate(vecs, n, Seq("vec_id")) { (d, i) =>
      d.withColumn("embedding",
        transform(col("embedding"), (x: Column) => x + lit(i * 1e-4f)))
    }

  /** Fresh event ids and user key spaces, so per-key partition sizes stay
    * constant; timestamps, types, values and props are kept. */
  private def replicateEvents(ev: DataFrame, n: Int): DataFrame =
    replicate(ev, n, Seq("event_id", "user_id"))((d, _) => d)

  /** Written last by [[writeCorpus]]: the factor, the source directory and
    * every source table's footer row count, one per line. */
  private val Marker = "_CORPUS"

  private def stamp(spark: SparkSession, srcDir: String, factor: Int): String =
    (Seq(s"factor $factor", s"source ${new java.io.File(srcDir).getAbsolutePath}") ++
      (replicated ++ unchanged).map(t =>
        s"$t ${Tables.parquetRowCount(spark, s"$srcDir/$t.parquet")}")).mkString("", "\n", "\n")

  /** Row counts of the replicated tables under `dir`, and whether an
    * existing corpus was reused. */
  case class Corpus(rows: Map[String, Long], reused: Boolean)

  /** Writes `srcDir` replicated `factor`× as an sf-shaped directory at
    * `outDir`: the [[replicated]] tables as multi-file parquet directories
    * (so footer-sized plans such as `emb_neardup_auto` see N× row counts),
    * the [[unchanged]] ones copied, then the [[Marker]]. An existing
    * `outDir` is reused only when its marker matches this factor, source
    * and source row counts: a crashed run leaves no marker and a
    * regenerated source other counts, so neither is ever reused. */
  def writeCorpus(spark: SparkSession, srcDir: String, outDir: String,
                  factor: Int): Corpus = {
    val conf = spark.sessionState.newHadoopConf()
    val out = new Path(outDir)
    val fs = out.getFileSystem(conf)
    val marker = new Path(out, Marker)
    val want = stamp(spark, srcDir, factor)
    val reused = fs.exists(marker) && {
      val in = fs.open(marker)
      try new String(in.readAllBytes(), UTF_8) == want finally in.close()
    }
    if (!reused) {
      fs.delete(out, true)
      // raw events, not Tables.events: the written table keeps the source's
      // ts lineage, and Tables.events normalizes it on read like any sf dir
      val sources = Seq(
        replicateDocs(Tables.documents(spark, srcDir), factor),
        replicateVecs(Tables.embeddings(spark, srcDir), factor),
        replicateEvents(Tables.table(spark, srcDir, "events"), factor))
      replicated.zip(sources).foreach { case (t, df) =>
        df.write.parquet(s"$outDir/$t.parquet")
      }
      unchanged.foreach { t =>
        val src = new Path(s"$srcDir/$t.parquet")
        FileUtil.copy(src.getFileSystem(conf), src, fs,
          new Path(s"$outDir/$t.parquet"), false, conf)
      }
      val os = fs.create(marker, false)
      try os.write(want.getBytes(UTF_8)) finally os.close()
    }
    Corpus(replicated.map(t => t -> Tables.parquetRowCount(spark, s"$outDir/$t.parquet")).toMap,
      reused)
  }

  private def loadavg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    require(args.length == 2 && args(0).forall(_.isDigit) && args(0).toInt >= 2,
      "usage: runMain graft.ScaleProbe <factor >= 2> <query>[,<query>...]")
    val factor = args(0).toInt
    val names = args(1).split(",").toSeq
    Prof.requireKnown(names)
    val srcDir = "/root/testdata/sf0.1"
    val outDir = s"target/scaleprobe/x$factor"
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val t0 = System.nanoTime()
    val corpus = writeCorpus(spark, srcDir, outDir, factor)
    println(f"corpus: $outDir ${replicated.map(t => s"$t ${corpus.rows(t)}").mkString(", ")} " +
      f"${if (corpus.reused) "reused" else "written"} in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    Session.reset(spark)

    def mb(b: Long): Double = b / 1048576.0
    names.foreach { name =>
      val l0 = loadavg
      try {
        // the corpus is read from disk on both legs; nothing is cached
        // across them, so neither leg measures the other's MemoryStore
        val r1 = Prof.measure(spark, name, srcDir)
        Session.reset(spark)
        System.gc()
        val rN = Prof.measure(spark, name, outDir)
        Session.reset(spark)
        System.gc()
        val exp = math.log(rN.wallS / r1.wallS) / math.log(factor)
        println(f"SCALE $name%-28s t1 ${r1.wallS}%8.2f s  t$factor ${rN.wallS}%8.2f s  " +
          f"exp $exp%5.2f  jobs ${rN.jobs}%4d  shufR ${mb(rN.shuffleReadBytes)}%9.1f MB  " +
          f"shufW ${mb(rN.shuffleWriteBytes)}%9.1f MB  spill ${mb(rN.spillBytes)}%9.1f MB  " +
          f"load $l0%5.2f -> $loadavg%5.2f")
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        println(s"SCALE $name FAILED: ${msg.linesIterator.nextOption().getOrElse("")}")
        Session.reset(spark)
      }
    }
    spark.stop()
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single session for all suites (local[4] keeps test JVMs light). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession
      .builder(cpus = "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sf: String = TestSession.sf

  /** (path → mtime) of every parquet data file under `dirs` — the shared
    * probe for "append never rewrites existing files" contracts (IVF and
    * band-index append specs).
    */
  def parquetStamps(dirs: String*): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    dirs.flatMap(d => walk(new java.io.File(d)))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  /** `f` with the session setting `kv` in force, the old value restored. */
  def withConf[T](kv: (String, String))(f: => T): T = {
    val old = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try f finally old match {
      case Some(v) => spark.conf.set(kv._1, v)
      case None => spark.conf.unset(kv._1)
    }
  }

  /** The jobs `action` launches, as the SQL execution id each ran under,
    * read after the listener bus is drained.
    */
  def jobsOf(action: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        execs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("none"))
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try { action; ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(listener)
    execs.asScala.toSeq
  }
}

package graft.ingest

import java.util.concurrent.atomic.AtomicReferenceArray

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.state.StateTable

/** One judged run of a store lifecycle (q161–q177): the reference's
  * Prefect flow of tasks (`flows/data_ingestion.py:219–279`) as named
  * steps. It owns what every scenario shares:
  *
  *  - its invocation dirs, allocated once per name ([[dir]]);
  *  - its stores, created at fresh roots and CreateTable-synced before
  *    any ingest ([[create]]), and reopened from their roots by name
  *    ([[store]], [[report]]) — so every durable resume ([[resume]])
  *    runs through fresh handles, as a restarted process would;
  *  - an append-only log of (step, count) ([[log]], [[counts]]) that
  *    the judged counts and IngestCertSpec read.
  *
  * Each step declares the roots it writes; steps run through [[par]],
  * which refuses two steps writing one root and names each step's
  * Spark jobs `<prefix>/<step>`.
  */
private[graft] final class Lifecycle(val spark: SparkSession, sfDir: String,
    val prefix: String) {
  import Lifecycle.Step

  private val dirs = scala.collection.mutable.Map.empty[String, String]
  private val keys = scala.collection.mutable.Map.empty[String, Seq[String]]
  private val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
  private val description = new Lifecycle.Description {
    def get: String = spark.sparkContext.getLocalProperty("spark.job.description")
    def set(d: String): Unit = spark.sparkContext.setJobDescription(d)
  }

  /** The invocation dir `name`, allocated on first use. */
  def dir(name: String): String = synchronized {
    dirs.getOrElseUpdate(name,
      graft.core.Staging.invocationDir(s"graft_${prefix}_$name", sfDir))
  }

  /** Appends (`step`, `n`) to the step log. */
  def log(step: String, n: Long): Unit = synchronized { entries += step -> n }

  /** The counts `step` logged, in order. */
  def counts(step: String): Seq[Long] = synchronized {
    entries.collect { case (`step`, n) => n }.toSeq
  }

  def step[A](name: String, writes: String*)(body: => A): Step[A] =
    Step(name, writes, () => body)

  /** Runs `steps` concurrently ([[Lifecycle.run]]); returns their results
    * in order.
    */
  def par[A](steps: Step[A]*): Seq[A] = Lifecycle.run(prefix, description, steps)

  def run[A](s: Step[A]): A = par(s).head

  /** Stages orders batch `transform` into dir `name`. */
  def stageOrders(name: String, transform: DataFrame => DataFrame): Step[Unit] =
    step(s"stage_$name", dir(name))(
      IngestQueries.stageOrdersCsv(spark, sfDir, dir(name), transform))

  def stageInventories(name: String, transform: DataFrame => DataFrame): Step[Unit] =
    step(s"stage_$name", dir(name))(
      IngestQueries.stageInventoriesCsv(spark, sfDir, dir(name), transform))

  /** Creates store `name` synced to `schema` before any ingest (R4
    * sequencing): a sync that applies anything but CreateTable fails,
    * naming the store.
    */
  def create(name: String, schema: StructType, key: Seq[String]): Step[Unit] = {
    synchronized { keys(name) = key }
    step(s"create_$name", dir(name)) {
      val changes = graft.schemasync.SchemaSync.sync(spark, store(name), schema)
      require(changes == Seq(graft.schemasync.SchemaSync.CreateTable(schema)),
        s"$prefix precondition: fresh store $name sync applied $changes " +
          "instead of CreateTable")
    }
  }

  /** A fresh handle on store `name`, from its root. */
  def store(name: String): StateTable =
    new StateTable(spark, dir(name), synchronized(keys(name)))

  /** Upserts the CSV landing dir `landing`, read by `read`, into `store`. */
  def load(store: String, read: (SparkSession, String) => DataFrame,
      landing: String): Step[Unit] =
    step(s"load_$landing", dir(store))(
      this.store(store).upsert(read(spark, dir(landing))))

  /** A fresh handle on report store `name` of `shape`. */
  def report(name: String, shape: IngestQueries.MaintainedShape): StateTable =
    IngestQueries.reportStoreHandle(spark, dir(name), shape)

  /** Resumes report `report` over the stores `sources` from fresh
    * handles; logs the number of fold steps applied under `name`.
    */
  def resume(name: String, shape: IngestQueries.MaintainedShape,
      sources: Seq[String], report: String): Step[Seq[IngestQueries.FoldStep]] =
    step(name, dir(report)) {
      val steps = IngestQueries.resumeMaintenance(shape, sources.map(store),
        this.report(report, shape))
      log(name, steps.size.toLong)
      steps
    }
}

private[graft] object Lifecycle {

  /** A named step and the roots (dirs) it writes. */
  final case class Step[+A](name: String, writes: Seq[String], body: () => A)

  /** A thread's Spark job description (a local property, which threads
    * inherit at creation).
    */
  trait Description {
    def get: String
    def set(d: String): Unit
  }

  /** Runs `steps` concurrently: the first on the calling thread, each
    * other on a fresh thread, each under job description
    * `<prefix>/<name>`; the caller's own description is restored after.
    * Independent construction jobs are small, so submitting them
    * together lets each back-fill the others' scheduling gaps.
    *
    * The single-writer rule: before any step starts, no root a step
    * writes may equal or sit under a root another step writes, and a
    * violation names both steps. What a step only reads is not declared.
    *
    * Every thread is joined before this returns, so no work leaks past
    * the call. If steps fail, the earliest step's error is thrown with
    * the others' suppressed onto it. A hung step therefore delays a
    * failed one's error: interrupting a thread mid-Spark-action can
    * leak a half-submitted job. If the calling thread is interrupted
    * while joining, the step error (if any) still propagates, with the
    * interrupt suppressed onto it and the interrupt flag re-asserted.
    */
  def run[A](prefix: String, description: Description, steps: Seq[Step[A]]): Seq[A] = {
    val roots = steps.map(_.writes.map(r =>
      java.nio.file.Paths.get(r).toAbsolutePath.normalize))
    for (i <- steps.indices; j <- i + 1 until steps.size;
         a <- roots(i); b <- roots(j))
      require(!a.startsWith(b) && !b.startsWith(a),
        s"$prefix: steps ${steps(i).name} and ${steps(j).name} both write " +
          s"under $a and $b")
    val results = new AtomicReferenceArray[Either[Throwable, A]](steps.size)
    def go(i: Int): Unit = {
      description.set(s"$prefix/${steps(i).name}")
      results.set(i, try Right(steps(i).body()) catch { case e: Throwable => Left(e) })
    }
    val threads = steps.indices.tail.map { i =>
      val t = new Thread(() => go(i), s"graft-$prefix-${steps(i).name}")
      t.start()
      t
    }
    val callers = description.get
    try go(0) finally description.set(callers)
    val interrupted = threads.foldLeft(Option.empty[InterruptedException]) {
      (ie, t) => ie.orElse(try { t.join(); None }
        catch { case e: InterruptedException => Some(e) })
    }
    val errors = steps.indices.flatMap(i => Option(results.get(i)).flatMap(_.left.toOption))
    errors.headOption match {
      case Some(first) =>
        errors.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        interrupted.foreach { ie =>
          first.addSuppressed(ie)
          Thread.currentThread().interrupt()
        }
        throw first
      case None =>
        interrupted.foreach(ie => throw ie)
        steps.indices.map(i => results.get(i).toOption.get)
    }
  }
}

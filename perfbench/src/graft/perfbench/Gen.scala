package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.ingest.IngestQueries

/** The seeded input generator, separate from the system under test: it
  * writes CSV landing files and a manifest, and nothing else reaches the
  * program. Lines are built by the judged fixtures' line builder
  * ([[IngestQueries.linesFrom]]), so every batch carries the reference
  * corpus hazards: quoted delimiters, empty fields that must land as
  * NULL, both timestamp formats, and verbatim duplicate lines for keys
  * ≡ 0 mod 11.
  *
  * The generator also keeps the model the output checks compare against:
  * the latest amount per key and the expected store row count.
  */
final class Gen(spark: SparkSession, sfDir: String, seed: Long, val root: Path, cache: Path) {
  import Gen._

  private val rnd = new scala.util.Random(seed)
  private val source = IngestQueries.hazardSource(spark, sfDir)
  private val schema: StructType = source.schema
  private val kIdx = schema.fieldIndex("k")
  private val priceIdx = schema.fieldIndex("o_totalprice")

  /** One row per corpus key (the hazard duplicates are re-derived from
    * the key, as [[IngestQueries.hazardSource]] does). Seed-independent,
    * so kept in `cache` for the next run.
    */
  private val base: Array[Row] = cached(cache.resolve("base.bin")) { out =>
    val seen = mutable.LongMap.empty[Row]
    source.collect().foreach(r => seen.getOrElseUpdate(r.getLong(kIdx), r))
    val rows = seen.values.toArray.sortBy(_.getLong(kIdx))
    val os = new java.io.ObjectOutputStream(new java.io.BufferedOutputStream(Files.newOutputStream(out)))
    try os.writeObject(rows) finally os.close()
  } { in =>
    val is = new java.io.ObjectInputStream(new java.io.BufferedInputStream(Files.newInputStream(in)))
    try is.readObject().asInstanceOf[Array[Row]] finally is.close()
  }
  private val keys: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.from(base.map(_.getLong(kIdx)))
  private val rowOf = mutable.LongMap.from(base.map(r => r.getLong(kIdx) -> r))
  private var nextKey = keys.max + 1L

  /** Expected latest amount per key, and the expected store row count. */
  val latest: mutable.LongMap[Double] = mutable.LongMap.from(base.map(r => r.getLong(kIdx) -> r.getDouble(priceIdx)))
  var expectedRows: Long = base.iterator.map(r => copies(r.getLong(kIdx)).toLong).sum

  private var batchIds = 0

  private def nKeys: Int = keys.size

  /** The full corpus (the seed load) as a 4-file landing dir. */
  def corpus(): Staged = {
    val dir = cached(cache.resolve("corpus"))(d => IngestQueries.stageOrdersCsv(spark, sfDir, d.toString))(identity)
    Staged(dir, expectedRows, csvBytes(dir))
  }

  /** The inventories catalog as a 2-file landing dir. */
  def inventories(): Staged = {
    val dir = cached(cache.resolve("inventories"))(d => IngestQueries.stageInventoriesCsv(spark, sfDir, d.toString))(identity)
    Staged(dir, partFiles(dir).map(p => Files.readAllLines(p).size - 1L).sum, csvBytes(dir))
  }

  /** A change batch over `frac` of the keys: two thirds last-write-wins
    * re-prices of existing keys, one third unseen keys.
    */
  def changes(frac: Double, nFiles: Int): Batch = {
    val n = math.max(3, (frac * nKeys).round.toInt)
    build(updates = n * 2 / 3, inserts = n - n * 2 / 3, nFiles)
  }

  /** A re-run batch: `frac` of the keys re-priced plus `newFrac` unseen. */
  def rerun(frac: Double, newFrac: Double, nFiles: Int): Batch =
    build((frac * nKeys).round.toInt, math.max(1, (newFrac * nKeys).round.toInt), nFiles)

  private def build(updates: Int, inserts: Int, nFiles: Int): Batch = {
    val id = batchIds
    batchIds += 1
    val upd = sample(updates).map { k =>
      val q = math.round(latest(k) * (0.8 + 0.4 * rnd.nextDouble()) * 100.0) / 100.0
      val p = if (q == latest(k)) q + 0.01 else q
      latest(k) = p
      withKeyPrice(rowOf(k), k, p)
    }
    val ins = (0 until inserts).map { _ =>
      val k = nextKey
      nextKey += 1
      val r = withKeyPrice(base(rnd.nextInt(base.length)), k,
        math.round(rnd.nextDouble() * 400000.0) / 100.0 + 1.0)
      latest(k) = r.getDouble(priceIdx)
      rowOf(k) = r
      keys += k
      r
    }
    val rows = (upd ++ ins).flatMap(r => Seq.fill(copies(r.getLong(kIdx)))(r))
    val insertedRows = ins.iterator.map(r => copies(r.getLong(kIdx)).toLong).sum
    expectedRows += insertedRows
    val src = spark.createDataFrame(spark.sparkContext.parallelize(rows, nFiles), schema)
    val lines = IngestQueries.linesFrom(src).collect().map(_.getString(0))
    // duplicate lines of one key go to one file, so last-write-wins
    // never depends on the order files are read in
    val files = rows.zip(lines).groupBy { case (r, _) => java.lang.Long.hashCode(r.getLong(kIdx)).abs % nFiles }
      .toSeq.sortBy(_._1).map(_._2.map(_._2))
    Batch(id, files, rows.size.toLong, insertedRows, (upd.size + ins.size).toLong)
  }

  private def sample(n: Int): Seq[Long] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(n, keys.size)) picked += keys(rnd.nextInt(keys.size))
    picked.toSeq
  }

  private def withKeyPrice(r: Row, k: Long, price: Double): Row = {
    val v = r.toSeq.toArray
    v(kIdx) = k
    v(priceIdx) = price
    Row.fromSeq(v.toIndexedSeq)
  }

  /** Write `b`'s files (header first) under `stageDir`; returns them. */
  def stage(b: Batch, stageDir: Path): Seq[Path] = {
    Files.createDirectories(stageDir)
    b.files.zipWithIndex.map { case (ls, j) =>
      val p = stageDir.resolve(f"b${b.id}%05d-$j.csv")
      Files.write(p, (IngestQueries.Header +: ls).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      p
    }
  }

  /** Move staged files into `landing` (atomic renames). */
  def land(files: Seq[Path], landing: Path): Long = {
    Files.createDirectories(landing)
    files.iterator.map { p =>
      val size = Files.size(p)
      Files.move(p, landing.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
      size
    }.sum
  }
}

object Gen {
  /** Read `path` with `load`, first writing it with `make` (to a
    * temporary sibling, then renamed) when absent.
    */
  def cached[A](path: Path)(make: Path => Unit)(load: Path => A): A = {
    if (!Files.exists(path)) {
      Files.createDirectories(path.getParent)
      val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
      graft.core.Fs.deleteRecursively(tmp)
      make(tmp)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
    }
    load(path)
  }

  final case class Staged(dir: Path, rows: Long, bytes: Long)

  /** One generated batch: its CSV lines per file and its manifest entry. */
  final case class Batch(id: Int, files: Seq[Seq[String]], rows: Long,
      insertedRows: Long, changedKeys: Long)

  /** Verbatim duplicate lines per key, as [[IngestQueries.hazardSource]]. */
  def copies(k: Long): Int = if (k % 11 == 0) 2 else 1

  def partFiles(dir: Path): Seq[Path] =
    graft.core.Fs.listDir(dir).filter(_.getFileName.toString.startsWith("part-"))

  def csvBytes(dir: Path): Long = partFiles(dir).map(Files.size).sum

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

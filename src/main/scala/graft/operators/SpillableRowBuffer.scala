package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.functions.col

/** Disk-spilling indexed row buffer — [[MatchRecognize]]'s per-key
  * working set, with the same spill-beyond-memory posture as the
  * reference's per-partition row index (its window/pattern operators
  * buffer a partition in a PagesIndex and revocable memory lets the
  * engine spill it instead of failing; we reproduce the contract, not
  * the mechanism): the first `memCap` rows stay on-heap; past that,
  * rows accumulate into fixed-size pages that are serialized to a
  * task-local temp file and re-read on demand through a two-page
  * cache. The NFA's access pattern is a forward scan with bounded
  * local backtracking plus per-match measure passes, so consecutive
  * accesses overwhelmingly hit the cached pages and the spilled path
  * stays near-sequential I/O.
  *
  * Single-threaded by contract (one task drives one buffer). Call
  * [[dispose]] after the key group is processed — the temp file is
  * deleted eagerly, not left for JVM exit.
  */
private[graft] final class SpillableRowBuffer(
    memCap: Int, pageSize: Int = 1 << 14) extends scala.collection.IndexedSeq[Row] {

  private val mem = new mutable.ArrayBuffer[Row]()
  private var pageBuf = new mutable.ArrayBuffer[Row]()
  private var flushedPages = 0
  private var file: java.io.RandomAccessFile = _
  private var path: java.io.File = _
  private val pageOffsets = new mutable.ArrayBuffer[Long]()
  // two-page LRU: A = most recent, B = previous
  private var cIdxA = -1
  private var cPageA: Array[Row] = _
  private var cIdxB = -1
  private var cPageB: Array[Row] = _

  /** True once any row went to the disk path (observable for tests). */
  def spilled: Boolean = flushedPages > 0 || pageBuf.nonEmpty

  def append(r: Row): Unit =
    if (!spilled && mem.length < memCap) mem += r
    else {
      if (!spilled) MatchRecognize.SpillCount.incrementAndGet()
      pageBuf += r
      if (pageBuf.length == pageSize) flushPage()
    }

  private def flushPage(): Unit = {
    if (file == null) {
      // Spill under Spark's configured local dirs (spark.local.dir /
      // SPARK_LOCAL_DIRS), not java.io.tmpdir: /tmp is commonly tmpfs
      // (RAM-backed), which would defeat the spill-to-disk contract,
      // and Spark's dirs are sized and cleaned up by the cluster
      // manager. The crash backstop is a task-completion listener
      // (bounded lifetime), not deleteOnExit (leaks a registry entry
      // per spill for the life of the executor JVM).
      val dirs = Option(org.apache.spark.SparkEnv.get)
        .map(e => e.conf.get("spark.local.dir",
          System.getProperty("java.io.tmpdir")))
        .getOrElse(System.getProperty("java.io.tmpdir"))
        .split(",").map(_.trim).filter(_.nonEmpty)
      val dir = new java.io.File(
        dirs(scala.util.Random.nextInt(dirs.length)))
      path = java.io.File.createTempFile("graft_mr_spill_", ".bin", dir)
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit] { _ => dispose() })
      file = new java.io.RandomAccessFile(path, "rw")
    }
    val bos = new java.io.ByteArrayOutputStream(1 << 16)
    val oos = new java.io.ObjectOutputStream(bos)
    // one object per page: Java serialization shares the (identical)
    // schema reference across the page's rows, so it is written once
    oos.writeObject(pageBuf.toArray)
    oos.close()
    val bytes = bos.toByteArray
    val off = file.length()
    file.seek(off)
    file.writeInt(bytes.length)
    file.write(bytes)
    pageOffsets += off
    flushedPages += 1
    pageBuf = new mutable.ArrayBuffer[Row]()
  }

  private def loadPage(p: Int): Array[Row] = {
    if (p == cIdxA) return cPageA
    if (p == cIdxB) { // swap B up to A
      val tp = cPageA; val ti = cIdxA
      cPageA = cPageB; cIdxA = cIdxB
      cPageB = tp; cIdxB = ti
      return cPageA
    }
    file.seek(pageOffsets(p))
    val len = file.readInt()
    val bytes = new Array[Byte](len)
    file.readFully(bytes)
    val arr = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes)).readObject().asInstanceOf[Array[Row]]
    cIdxB = cIdxA; cPageB = cPageA
    cIdxA = p; cPageA = arr
    arr
  }

  override def length: Int = mem.length + flushedPages * pageSize + pageBuf.length

  override def apply(i: Int): Row =
    if (i < mem.length) mem(i)
    else {
      val j = i - mem.length
      val p = j / pageSize
      if (p < flushedPages) loadPage(p)(j % pageSize)
      else pageBuf(j - flushedPages * pageSize)
    }

  def dispose(): Unit = {
    if (file != null) {
      file.close()
      path.delete()
      file = null
    }
    mem.clear()
    pageBuf.clear()
    cPageA = null; cPageB = null; cIdxA = -1; cIdxB = -1
  }
}

/** The key-group scan shared by every per-key operator
  * ([[MatchRecognize]]'s table and window forms, [[DynamicFrames]]):
  * one shuffle on the partition key, a local sort on (partition ++
  * order) keys, then each run of equal partition keys buffered into a
  * [[SpillableRowBuffer]] and handed to `perGroup`. The reference's
  * per-partition PagesIndex shape — no driver involvement, no global
  * sort, one key group resident at a time.
  *
  * Keys compare as Spark's `PARTITION BY` / `GROUP BY` do: NaN equals
  * NaN (a NaN key is ONE group, not one group per row). The
  * [[MatchRecognize.MaxRowsPerKey]] backstop and the spill threshold
  * are read on the driver so a configured value ships with the task
  * closure. A group's buffer is disposed once its output iterator is
  * drained (the spill file is deleted eagerly). */
private[graft] object KeyGroups {

  def scan[T](
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[String],
      operator: String,
      spillAfterRows: Int = MatchRecognize.SpillAfterRows)(
      perGroup: SpillableRowBuffer => Iterator[T])(
      implicit enc: Encoder[T]): Dataset[T] = {
    val keyIdx = partCols.map(df.schema.fieldIndex).toArray
    val maxRowsPerKey = MatchRecognize.MaxRowsPerKey
    val memCap = spillAfterRows
    val op = operator
    df.repartition(partCols.map(col): _*)
      .sortWithinPartitions((partCols ++ orderCols).map(col): _*)
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[T] {
          private var buf: SpillableRowBuffer = _
          private var out: Iterator[T] = Iterator.empty

          private def sameKey(a: Row, b: Row): Boolean = {
            var k = 0
            while (k < keyIdx.length) {
              if (!KeyGroups.keyEq(a.get(keyIdx(k)), b.get(keyIdx(k)))) return false
              k += 1
            }
            true
          }

          private def nextGroup(): SpillableRowBuffer = {
            val first = rows.next()
            val b = new SpillableRowBuffer(memCap)
            b.append(first)
            while (rows.hasNext && sameKey(rows.head, first)) {
              b.append(rows.next())
              if (b.length > maxRowsPerKey) {
                b.dispose()
                throw new IllegalStateException(
                  s"$op: partition key ${keyIdx.map(first.get).mkString(",")} " +
                    s"exceeds $maxRowsPerKey buffered rows; pre-filter or " +
                    "sub-partition the input (e.g. bound the time range per " +
                    "key), or raise MatchRecognize.MaxRowsPerKey")
              }
            }
            b
          }

          override def hasNext: Boolean = {
            while (!out.hasNext && rows.hasNext) {
              if (buf != null) buf.dispose()
              buf = nextGroup()
              out = perGroup(buf)
            }
            if (!out.hasNext && buf != null) { buf.dispose(); buf = null }
            out.hasNext
          }

          override def next(): T =
            if (hasNext) out.next() else throw new NoSuchElementException
        }
      }
  }

  /** Partition-key equality: `==`, except that NaN equals NaN (boxed
    * `NaN == NaN` is false). */
  private def keyEq(a: Any, b: Any): Boolean = a == b || ((a, b) match {
    case (x: java.lang.Double, y: java.lang.Double) => x.isNaN && y.isNaN
    case (x: java.lang.Float, y: java.lang.Float) => x.isNaN && y.isNaN
    case _ => false
  })
}

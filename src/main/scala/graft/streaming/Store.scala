package graft.streaming

import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

/** One on-disk store of the stateful [[StreamOps]] sinks, at one root:
  * the `.meta` sidecar, the ownership claim, the data-dir listing, the
  * torn-overwrite guard, the bucket layout and — for the two tiered
  * stores — the tail tier. The store kinds ([[Store.CdcSnapshot]],
  * [[Store.SignatureIndex]], [[Store.AnnCodes]], [[Store.Labels]],
  * [[Store.CanonEdges]]) only say what differs: their meta fields,
  * their bucket column, which root children are data, and their
  * messages.
  *
  * The bucket layout is `<root>/<bucketCol>=<b>/` (tiered kinds: writer
  * and batch dirs beneath, and one tail dir). It is known here only: a
  * sink says which buckets it wants and what it does with the rows;
  * this class builds the dir names from the one root listing, reads
  * them under the stored schema ([[schema]]: the meta's, else one footer
  * read on the driver — never a schema-inference job), writes rows
  * clustered by bucket ([[write]], [[writeTier]]), and checks a layout
  * that has no meta ([[verifyLayout]]).
  *
  * The meta is a SIBLING file (`<root>.meta`), so a static overwrite of
  * the data dir can never delete it: it pins the layout (a mismatched
  * bucket count would prune or rewrite the WRONG buckets and silently
  * duplicate keys) and turns a crashed overwrite into a loud failure
  * (meta present + data gone = the write died mid-job; without it the
  * cold-start fallback would silently re-bootstrap from empty and
  * publish a plausible-looking partial store). */
private[graft] final class Store[M](val kind: Store.Kind[M], val root: String,
                                    spark: SparkSession) {
  import Store._

  val fs: FileSystem = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** The decoded meta, None when absent. A meta this kind cannot decode
    * — zero bytes from a create-then-die write, or another store's meta
    * at a shared path — fails loudly with the store and its path. */
  def meta: Option[M] = readSidecar(fs, metaPath(root)).map { content =>
    try kind.decode(Meta.decode(content))
    catch {
      case NonFatal(e) => throw new IllegalArgumentException(
        s"unrecognized ${kind.metaNoun} at $root.meta for the ${kind.name} " +
          s"at $root: " +
          (if (content.isEmpty) "zero bytes — a meta write crashed between " +
            "create and write"
          else s"'$content' — not a ${kind.name} meta; is the path shared " +
            "with another store?") +
          s" Restore the meta or rebuild the ${kind.name}.", e)
    }
  }

  /** Replace the meta. Every writer lands it AFTER the data it
    * describes, so a crash between the two leaves data without meta on
    * a first write only — never a meta describing data that is not
    * there. */
  def writeMeta(m: M): Unit = writeSidecar(fs, metaPath(root), kind.encode(m).encode)

  def removeMeta(): Unit = fs.delete(metaPath(root), false)

  /** Remove the data root AND the meta together, so the store reads as
    * ABSENT (cold-start semantics) — never as torn. */
  def remove(): Unit = {
    fs.delete(new Path(root), true)
    removeMeta()
  }

  /** The root's data children — ONE root listStatus, the only listing
    * whose cost may grow with the store (by partition COUNT, never by
    * file count); empty when the root is absent. */
  def dirs: Array[String] = {
    val p = new Path(root)
    if (!fs.exists(p)) Array.empty
    else {
      val names = fs.listStatus(p).map(_.getPath.getName)
      kind.checkLayout(root, names)
      names.filter(kind.isData)
    }
  }

  /** The meta and the data children, behind the torn-overwrite guard:
    * meta present with no data = a static overwrite died between its
    * delete and its commit. Reading that as an absent store would
    * restart from empty (silently admitting every dup, dropping every
    * key); an empty static write removes the meta with the data, so a
    * legitimately empty store never reaches this state. */
  def open(): (Option[M], Array[String]) = {
    val d = dirs
    val m = meta
    requireIntact(m, d)
    (m, d)
  }

  /** The torn-overwrite guard of [[open]] over a meta and a listing read
    * earlier (an op that must not fail before it knows it has work). */
  def requireIntact(m: Option[M], d: Array[String]): Unit =
    require(m.isEmpty || d.nonEmpty,
      s"${kind.metaNoun} exists at $root.meta but the ${kind.dataNoun} " +
        s"are gone — ${kind.tornHint}")

  /** [[open]] for an op that needs the store to exist: an absent meta
    * fails with `hint` (what to run first). */
  def openExisting(hint: String): (M, Array[String]) = {
    val (m, d) = open()
    (m.getOrElse(throw missing(hint)), d)
  }

  def missing(hint: String): IllegalArgumentException =
    new IllegalArgumentException(s"no ${kind.metaNoun} at $root.meta — $hint")

  // ---- the stored rows: schema, reads, writes and the no-meta layout
  // check. `listed` is a listing [[dirs]] (or [[open]]) returned: every
  // dir name is built from it, so a read of N buckets lists only those
  // N dirs, never the rest of the store (the r18 readKeys fix).

  /** The stored rows' schema, partition columns excluded: the meta's
    * when it records one (the CDC snapshot's may run AHEAD of older
    * files, which then null-backfill), else the footer of one listed
    * data child, read on the driver — no Spark job, and every data file
    * has this schema by the layout contract. */
  def schema(m: Option[M], listed: => Array[String]): StructType =
    m.flatMap(kind.schemaOf).orElse(listed.headOption
        .flatMap(d => GraftFooterSchema.read(spark, s"$root/$d")))
      .getOrElse(throw new IllegalArgumentException(
        s"no ${kind.dataNoun} at $root to read a schema from"))

  /** Every stored row, partition columns dropped: one recursive listing
    * of the root, under [[schema]]. */
  def readAll(m: Option[M], listed: => Array[String] = dirs): DataFrame =
    scan(Seq(root), schema(m, listed))

  /** The rows of `buckets` — and of the tail tier when `withTail` —
    * under `schema`, partition columns dropped. Only the dirs `listed`
    * holds are read, by constructed name: a bucket with no dir is
    * skipped, and none at all yields an empty frame CARRYING `schema`. */
  def read(schema: StructType, listed: Array[String], buckets: Iterable[Any],
           withTail: Boolean = false): DataFrame = {
    val chosen = pick(listed, buckets, withTail)
    if (chosen.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else scan(chosen.map(d => s"$root/$d"), schema)
  }

  /** Whether [[read]] of these buckets would read any dir. */
  def holds(listed: Array[String], buckets: Iterable[Any],
            withTail: Boolean = false): Boolean =
    pick(listed, buckets, withTail).nonEmpty

  private def pick(listed: Array[String], buckets: Iterable[Any],
                   withTail: Boolean): Seq[String] = {
    val have = listed.toSet
    ((if (withTail) Seq(tail.value) else Nil) ++ buckets).map(dirOf)
      .filter(have.contains).toSeq
  }

  /** `paths` under `schema` plus the partition columns (a nested
    * writer/batch dir reads as columns, never inferred); partition
    * columns dropped except `keep`. */
  private def scan(paths: Seq[String], schema: StructType,
                   keep: Seq[String] = Nil): DataFrame = {
    val parts = partitionFields
    spark.read.option("basePath", root)
      .schema(StructType(schema.fields ++ parts))
      .parquet(paths: _*)
      .drop(parts.map(_.name).filterNot(keep.contains): _*)
  }

  private def bucketCol: String = kind.bucket.getOrElse(throw
    new IllegalStateException(s"the ${kind.name} has no bucket dirs")).col

  private def dirOf(bucket: Any): String = s"$bucketCol=$bucket"

  /** The columns a stored file carries in its path: the bucket, then
    * (tiered kinds) the writer and the batch. */
  private def partitionFields: Seq[StructField] =
    kind.bucket.toSeq.map(b => StructField(b.col, b.dataType)) ++
      kind.tail.toSeq.flatMap(t => Seq(StructField(t.writerCol, StringType),
        StructField(t.batchCol, LongType)))

  /** The one bucket-clustered write: `rows` tagged with `bucket` and
    * clustered by it — one file per bucket per write, spread over the
    * buckets' tasks (unclustered, every task lands a file in every
    * bucket: a small-file layout whose LISTING taxes every later read,
    * 3.0× at 10× snapshot in the r17 cdc_sink_prune probe) — or, given
    * `spread`, hash-spread over that many tasks on that column. Then a
    * static overwrite of the whole root, or a `dynamic` one of only the
    * partitions `rows` holds. */
  def write(rows: DataFrame, bucket: Column, dynamic: Boolean,
            spread: Option[(Int, Column)] = None): Unit = {
    val tagged = rows.withColumn(bucketCol, bucket)
    overwrite(spread.fold(tagged.repartition(col(bucketCol))) {
      case (n, c) => tagged.repartition(n, c)
    }, root, partitionFields.map(_.name), dynamic)
  }

  /** Delete the dirs of `buckets` — a dynamic overwrite leaves the
    * files of a bucket whose rows all moved away. */
  def removeBuckets(buckets: Iterable[Any]): Unit =
    buckets.foreach(b => fs.delete(new Path(root, dirOf(b)), true))

  /** Copy the data children `listed` byte for byte under `to`'s root. */
  def copyInto(to: Store[M], listed: Array[String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    to.fs.mkdirs(new Path(to.root))
    listed.foreach(d =>
      FileUtil.copy(fs, new Path(root, d), to.fs, new Path(to.root, d), false, conf))
  }

  /** The check a layout with NO meta needs before its bucket pruning is
    * trusted — dirs without meta are a pre-meta layout, or a FIRST write
    * that crashed between its commit and its meta, and a bucket count
    * other than the one configured (`setting`=`n`, named in messages
    * with `who`) would prune the wrong buckets and silently duplicate
    * keys or admit dups. A dir value >= `n` is proof (cheap); one full
    * re-hash — every row outside the tail hashes to its dir under
    * `bucketOf` — catches a SMALLER count the names cannot. A pass is
    * memoized per (store, n) in this JVM: a writer's next batch lands
    * the meta, but a read-only probe never writes, and without the memo
    * every serving probe would re-pay a full-store scan. An empty
    * listing has nothing to check. */
  def verifyLayout(listed: Array[String], setting: String, n: Int,
                   bucketOf: Column, who: String): Unit = {
    val key = (kind.name, root, n)
    if (listed.nonEmpty && !verifiedLayouts.contains(key)) {
      val values = listed.map(_.stripPrefix(bucketCol + "=").toLong)
      require(values.forall(_ < n),
        s"${kind.name} at $root has bucket dir $bucketCol=${values.max} but " +
          s"no meta sidecar and $who was configured with $setting=$n — the " +
          s"layout was written with a different bucket count; rebuild the " +
          s"${kind.name} (or restore its meta sidecar)")
      val inTail = kind.tail.fold(lit(false))(t => col(bucketCol) === lit(t.value))
      val misHashed = scan(Seq(root), schema(None, listed), keep = Seq(bucketCol))
        .where(!inTail && bucketOf =!= col(bucketCol))
      require(misHashed.isEmpty,
        s"${kind.name} at $root has no meta sidecar and its rows do not hash " +
          s"to their bucket dirs under $setting=$n — rebuild the ${kind.name} " +
          "(or restore its meta sidecar)")
      memoizeVerified(key)
    }
  }

  // ---- ownership, by the claim sidecar (the code below the Store class)

  def claim(writer: Option[String], storedPin: Option[String]): Unit =
    claimOwnership(fs, root, writer, storedPin, kind.name)

  def resetClaim(writer: Option[String]): Unit = Store.resetClaim(fs, root, writer)

  def owner(metaWriter: Option[String]): Option[String] =
    effectiveOwner(fs, root, metaWriter)

  def requireOwner(metaWriter: Option[String], asWriter: Option[String],
                   op: String): Unit =
    requireStoreOwner(fs, root, metaWriter, asWriter, kind.name, op)

  // ---- the tail tier of the two tiered stores (the LSM/base-plus-delta
  // shape): corpus-sized writes (bootstrap, fold) land BUCKETED, each
  // batch lands whole in one unbucketed tail dir, and every probe reads
  // its touched buckets plus the whole tail

  private def tail: Tail = kind.tail.getOrElse(
    throw new IllegalStateException(s"the ${kind.name} has no tail tier"))

  /** Batch ids per writer in the tail dir, from the DIR NAMES (never
    * data): one listStatus of the tail dir plus one per writer dir. */
  private def tailBatchIds: Map[String, Seq[Long]] = {
    val t = tail
    val dir = new Path(root, dirOf(t.value))
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(t.writerCol + "="))
      .map { w =>
        w.getPath.getName.stripPrefix(t.writerCol + "=") ->
          fs.listStatus(w.getPath)
            .filter(b => b.isDirectory &&
              b.getPath.getName.startsWith(t.batchCol + "="))
            .map(_.getPath.getName.stripPrefix(t.batchCol + "=").toLong)
            .toSeq
      }.toMap
  }

  /** How many per-batch partitions the tail holds — the number that
    * grows between folds, since every probe reads the whole tail. */
  def tailBatches: Int = tailBatchIds.values.map(_.size).sum

  /** Whether `listed` holds the tail dir. */
  def hasTail(listed: Array[String]): Boolean = listed.contains(dirOf(tail.value))

  /** The tail tier's rows under `schema`, WITH their batch column —
    * each row is one batch's fact; [[latest]] resolves them. */
  def readTail(schema: StructType, listed: Array[String]): DataFrame =
    scan(pick(listed, Nil, withTail = true).map(d => s"$root/$d"), schema,
      keep = Seq(tail.batchCol))

  /** One row per `key` of [[readTail]] rows: the latest batch's, then
    * the lowest `tiebreak`; the batch column dropped. */
  def latest(tailRows: DataFrame, key: Seq[Column], tiebreak: Column): DataFrame =
    tailRows
      .withColumn("__rn", row_number().over(Window.partitionBy(key: _*)
        .orderBy(col(tail.batchCol).desc, tiebreak)))
      .where(col("__rn") === 1)
      .drop("__rn", tail.batchCol)

  /** Whether `batchId` is a REPLAY of a batch a fold already moved into
    * the bucketed tier: the fold deleted the tail partition that made
    * the write idempotent, so re-landing it would duplicate its rows
    * until the next fold — it recognizes itself here and skips. The
    * marks are writer-scoped because batch ids restart at 0 under a new
    * checkpoint (takeover): a new writer is never gated by an old
    * writer's watermark. */
  def isFolded(m: Option[M], writer: String, batchId: Long): Boolean =
    m.exists(kind.folded(_).get(writer).exists(batchId <= _))

  /** The tier write, through [[write]]: `rows` tagged with their tier —
    * `bucket` for a corpus-sized static write (bootstrap, fold:
    * clustered, one file per bucket, spread over the bucket count's
    * tasks), else the tail value for a batch's dynamic write (ONE
    * partition commit per batch; bucketing a batch would pay one commit
    * per touched bucket) — plus the writer and batch partitions beneath
    * (the idempotent-sink keying: a replayed batch rewrites its own
    * partition). One commit needs one partition DIR, not one file:
    * `tailFiles` > 1 hash-spreads a large batch over that many tasks
    * inside the one tail dir. A static write that left no data dirs
    * removes the store (checked on the dirs AFTER the write — an
    * isEmpty pre-check would execute the input plan an extra time);
    * otherwise `meta` lands after the data. */
  def writeTier(rows: DataFrame, writer: String, batch: Long,
                bucket: Option[Column], meta: M, tailFiles: Int = 1): Unit = {
    require(tailFiles >= 1, s"tailFiles must be >= 1, got $tailFiles")
    val t = tail
    write(rows.withColumn(t.writerCol, lit(writer)).withColumn(t.batchCol, lit(batch)),
      bucket.getOrElse(lit(t.value)), dynamic = bucket.isEmpty,
      if (bucket.isDefined || tailFiles == 1) None
      else Some(tailFiles -> col(rows.columns.filterNot(t.keyCols.contains).head)))
    if (bucket.isDefined && dirs.isEmpty) remove()
    else writeMeta(meta)
  }

  /** The fold preamble: the stored meta (absent → fails with `hint`),
    * intact data dirs, the owner gate — a claimed store demands its
    * owner (`asWriter`), since a fold racing a live batch's tail write
    * would overwrite the committed partition — and the replay
    * watermarks the fold records: prior folds' marks merged, max per
    * writer, with the batches the tail holds now (see [[isFolded]]). */
  def beginFold(asWriter: Option[String], op: String, hint: String)
      : (M, Array[String], Map[String, Long]) = {
    val (m, d) = openExisting(hint)
    requireOwner(None, asWriter, op)
    val now = tailBatchIds.collect { case (w, bs) if bs.nonEmpty => w -> bs.max }
    val folded = (kind.folded(m).toSeq ++ now.toSeq).groupBy(_._1)
      .map { case (w, xs) => w -> xs.map(_._2).max }
    (m, d, folded)
  }
}

private[graft] object Store {

  // ---- the sidecar codec: newline-separated `key=value` fields, bare
  // marker lines and `folded:<writer>=<batch>` watermarks. Consumers
  // read typed fields through their kind — never a first-line compare
  // by hand (an added line once broke three such consumers).

  /** One decoded sidecar, in written order. */
  final case class Meta(fields: Seq[(String, String)] = Nil,
                        markers: Seq[String] = Nil,
                        folded: Map[String, Long] = Map.empty) {
    def get(key: String): Option[String] =
      fields.collectFirst { case (`key`, v) => v }

    def apply(key: String): String = get(key).getOrElse(
      throw new NoSuchElementException(s"no $key line"))

    /** Exactly `keys`' fields, headed by the first, and no other
      * lines (watermarks only when `folding`). */
    def expect(keys: Seq[String], folding: Boolean = false): Meta = {
      require(fields.headOption.exists(_._1 == keys.head) &&
        fields.forall(f => keys.contains(f._1)) && markers.isEmpty &&
        (folding || folded.isEmpty), s"expected fields ${keys.mkString(", ")}")
      this
    }

    def encode: String =
      (fields.map { case (k, v) => s"$k=$v" } ++ markers ++
        folded.toSeq.sortBy(_._1).map { case (w, b) => s"folded:$w=$b" })
        .mkString("\n")
  }

  object Meta {
    def decode(content: String): Meta = {
      val lines = content.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      // older builds wrote the canonical-edge meta as ONE line joining
      // its fields with ';'
      val split = lines.take(1).flatMap(_.split(";").toSeq) ++ lines.drop(1)
      val (folded, rest) = split.partition(_.startsWith("folded:"))
      val (fields, markers) = rest.partition(_.contains("="))
      Meta(
        fields.map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) },
        markers,
        folded.map { l =>
          val kv = l.stripPrefix("folded:")
          val i = kv.lastIndexOf('=')
          kv.substring(0, i) -> kv.substring(i + 1).toLong
        }.toMap)
    }
  }

  private def parseSchema(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** The CDC snapshot's meta: the bucket count every reader/writer must
    * agree on; the LOGICAL schema, which may be AHEAD of what older
    * bucket files carry (readers pass it explicitly so they
    * null-backfill; metas of the first bucketed builds lack it); the
    * writer PIN (the claim sidecar is the CAS, this the record); and the
    * RETAINED mark freezing a time-travel base. */
  final case class CdcMeta(nBuckets: Int, schema: Option[StructType],
                           writer: Option[String], retained: Option[Long])

  /** The signature index's meta: bucket count, the stored sig-row schema
    * (pins the id dtype later batches cast to), the fold watermarks. */
  final case class IdxMeta(nIdxBuckets: Int, schema: StructType,
                           folded: Map[String, Long])

  /** The ANN code store's meta: cell count, the codebook fingerprint
    * binding the codes to the quantization that encoded them, the
    * stored code-row schema, the fold watermarks. */
  final case class AnnMeta(cells: Int, cbHash: String, schema: StructType,
                           folded: Map[String, Long])

  /** The canonical-edge snapshot's meta: bucket count, writer pin and
    * the applied-batch watermark (edge sums are facts, not convergent
    * state, so a replay at or below it skips the fold). */
  final case class CanonMeta(nBuckets: Int, writer: String, applied: Long)

  /** The bucket partition column of a bucketed kind — the
    * `<col>=<value>` dirs under the root — and the type its values read
    * back as. */
  final case class Bucket(col: String, dataType: DataType = IntegerType)

  /** The tail tier of a tiered kind: the bucket value of its one tail
    * dir, the writer/batch partitions beneath, and the row key columns
    * (the other column is the id a large tail write spreads on). */
  final case class Tail(value: Any, writerCol: String, batchCol: String,
                        keyCols: Seq[String])

  /** What one store kind parametrizes: its names in messages, its meta
    * fields, its bucket column, which root children are data, and
    * (tiered kinds) its tail. */
  abstract class Kind[M](val name: String, val metaNoun: String,
                         val dataNoun: String, val tornHint: String,
                         val bucket: Option[Bucket] = None) {
    def decode(m: Meta): M
    def encode(m: M): Meta
    /** The stored rows' schema, when the meta records one. */
    def schemaOf(m: M): Option[StructType] = None
    def isData(child: String): Boolean = bucket.exists(b => partitioned(b.col)(child))
    def tail: Option[Tail] = None
    def folded(m: M): Map[String, Long] = Map.empty
    /** Fail on a root holding a layout this build cannot serve. */
    def checkLayout(root: String, children: Array[String]): Unit = ()

    def at(spark: SparkSession, root: String): Store[M] = new Store(this, root, spark)
  }

  private def partitioned(partCol: String)(child: String): Boolean =
    child.startsWith(partCol + "=")

  object CdcSnapshot extends Kind[CdcMeta]("snapshot", "layout meta",
      "bucket dirs", "a prior overwrite crashed mid-write; rebuild the " +
        "snapshot (from the changelog, or writeCdcSnapshot) first",
      Some(Bucket(StreamOps.CdcBucketCol))) {
    private val keys = Seq("nBuckets", "schema", "writer", "retained")
    def decode(m: Meta): CdcMeta = {
      m.expect(keys)
      CdcMeta(m("nBuckets").toInt, m.get("schema").map(parseSchema),
        m.get("writer"), m.get("retained").map(_.toLong))
    }
    def encode(c: CdcMeta): Meta = Meta(keys.zip(Seq(Some(c.nBuckets.toString),
      c.schema.map(_.json), c.writer, c.retained.map(_.toString)))
      .collect { case (k, Some(v)) => k -> v })
    override def schemaOf(m: CdcMeta): Option[StructType] = m.schema
  }

  object SignatureIndex extends Kind[IdxMeta]("signature index",
      "signature-index meta", "bucket dirs", "a compaction/rewrite " +
        "crashed mid-overwrite; rebuild the index from the live corpus " +
        "(rebuildDedupIndex) before probing through it",
      Some(Bucket(StreamOps.DedupIdxBucketCol))) {
    private val keys = Seq("nIdxBuckets", "schema")
    def decode(m: Meta): IdxMeta = {
      m.expect(keys, folding = true)
      IdxMeta(m("nIdxBuckets").toInt, parseSchema(m("schema")), m.folded)
    }
    def encode(i: IdxMeta): Meta = Meta(
      keys.zip(Seq(i.nIdxBuckets.toString, i.schema.json)), folded = i.folded)
    override def schemaOf(m: IdxMeta): Option[StructType] = Some(m.schema)
    override val tail: Option[Tail] = Some(Tail(StreamOps.DedupIdxTail,
      StreamOps.DedupWriterCol, StreamOps.DedupBatchCol, Seq("band", "sig")))
    override def folded(m: IdxMeta): Map[String, Long] = m.folded
    override def checkLayout(root: String, children: Array[String]): Unit =
      require(!children.exists(partitioned(StreamOps.DedupWriterCol)),
        s"signature index at $root uses the pre-r18 FLAT layout " +
          "(top-level writer partitions) — probing it bucket-pruned " +
          "would silently admit dups; rebuild via bootstrapDedup or " +
          "re-index the corpus")
  }

  object AnnCodes extends Kind[AnnMeta]("ANN code store",
      "ANN code-store meta", "cell dirs", "a compaction/rewrite crashed " +
        "mid-overwrite; re-bootstrap the index from the corpus " +
        "(bootstrapAnn) first", Some(Bucket(StreamOps.AnnCellCol, LongType))) {
    private val keys = Seq("cells", "cbhash", "schema")
    def decode(m: Meta): AnnMeta = {
      m.expect(keys, folding = true)
      AnnMeta(m("cells").toInt, m("cbhash"), parseSchema(m("schema")), m.folded)
    }
    def encode(a: AnnMeta): Meta = Meta(
      keys.zip(Seq(a.cells.toString, a.cbHash, a.schema.json)),
      folded = a.folded)
    override def schemaOf(m: AnnMeta): Option[StructType] = Some(m.schema)
    override val tail: Option[Tail] = Some(Tail(StreamOps.AnnTail,
      StreamOps.AnnWriterCol, StreamOps.AnnBatchCol,
      Seq("cell", "subspace", "code")))
    override def folded(m: AnnMeta): Map[String, Long] = m.folded
  }

  /** The component-label snapshot: a flat parquet dir whose meta is the
    * bare `graft-labels` marker. */
  object Labels extends Kind[Unit]("labels store", "labels meta",
      "parquet files", "a prior overwrite crashed mid-write; re-close the " +
        "full edge set (rebuild from the raw edge log) before resuming") {
    private val marker = "graft-labels"
    def decode(m: Meta): Unit =
      require(m.fields.isEmpty && m.folded.isEmpty && m.markers == Seq(marker))
    def encode(u: Unit): Meta = Meta(markers = Seq(marker))
    override def isData(child: String): Boolean = child.endsWith(".parquet")
  }

  object CanonEdges extends Kind[CanonMeta]("canonical snapshot",
      "canonical snapshot meta", "bucket dirs", "rebuild the snapshot " +
        "from the raw edge log", Some(Bucket(StreamOps.CanonBucketCol))) {
    private val keys = Seq("nBuckets", "writer", "applied")
    def decode(m: Meta): CanonMeta = {
      m.expect(keys)
      CanonMeta(m("nBuckets").toInt, m("writer"), m("applied").toLong)
    }
    def encode(c: CanonMeta): Meta = Meta(
      keys.zip(Seq(c.nBuckets.toString, c.writer, c.applied.toString)))
  }

  /** The canonical-edge fold's crash marker (at `<canonPath>.inflight`):
    * a bare line holding the batch id whose fold is in flight. */
  object Inflight extends Kind[Long]("canonical snapshot inflight marker",
      "inflight marker", "", "") {
    def decode(m: Meta): Long = {
      require(m.fields.isEmpty && m.folded.isEmpty && m.markers.size == 1)
      m.markers.head.toLong
    }
    def encode(b: Long): Meta = Meta(markers = Seq(b.toString))
  }

  /** Meta-less layouts whose [[Store.verifyLayout]] passed in this JVM,
    * by (kind, root, bucket count). Entries are never evicted one by
    * one (a meta-less layout stays meta-less until a writer lands the
    * meta), so past the bound the whole memo is dropped: the worst case
    * is one re-paid verification, never a correctness change. */
  private val verifiedLayouts =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String, Int)]()

  private val VerifiedLayoutsBound = 4096

  private def memoizeVerified(key: (String, String, Int)): Unit = {
    if (verifiedLayouts.size >= VerifiedLayoutsBound) verifiedLayouts.clear()
    verifiedLayouts.add(key)
  }

  /** The overwrite under every store write: partitioned by `partCols`,
    * static (the whole `path`) or `dynamic` (only the partitions `rows`
    * holds). */
  private def overwrite(rows: DataFrame, path: String, partCols: Seq[String],
                        dynamic: Boolean): Unit = {
    val w = rows.write.mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy(partCols: _*).parquet(path)
  }

  /** The idempotent per-batch sink write (the r11 keying, which the
    * tail tier nests under its tail dir): `rows` tagged with the `keys`
    * partition values, dynamically overwriting exactly that partition —
    * a replayed batch rewrites its own partition and touches nothing
    * else. */
  def writeKeyed(rows: DataFrame, path: String, keys: Seq[(String, Column)]): Unit =
    overwrite(keys.foldLeft(rows) { case (r, (k, v)) => r.withColumn(k, v) },
      path, keys.map(_._1), dynamic = true)

  private def metaPath(dir: String) = new Path(dir + ".meta")

  /** Create or replace a sidecar with one line of `content`. */
  private def writeSidecar(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write((content + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** A sidecar's trimmed content, None when absent. */
  private def readSidecar(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8).trim)
      finally in.close()
    }

  // ---- store ownership CLAIM (r19, the r18 verdict's top ask): the
  // meta's writer= line RECORDS the pin, but the first-batch claim used
  // to be read-then-write — two streams' very FIRST batches overlapping
  // could both pass the no-pin check and the loser's committed batch
  // was permanently lost (its checkpoint advances; replay never
  // redelivers a committed batch). The claim SIDECAR closes that window
  // mechanically: `FileSystem.create(path, overwrite = false)` is an
  // EXCLUSIVE create — atomic at HDFS's namenode; on a local FS the
  // no-overwrite check narrows the window to one syscall gap, and the
  // content re-read both racers perform closes the rest — so exactly
  // one of two racing first batches wins the claim and the loser fails
  // loudly BEFORE writing any data. Every store kind is claimed: the
  // CDC snapshot (and the dedup corpus), the signature index, the ANN
  // codes, the labels and the canonical-edge snapshot.

  private def claimFilePath(dir: String) =
    new org.apache.hadoop.fs.Path(dir + ".meta.claim")

  /** The claim sidecar's content: None = absent, Some("") = a TORN
    * claim (created, content never landed — a claim attempt crashed in
    * the create-to-write gap, or is mid-flight right now). */
  private[graft] def readClaim(fs: org.apache.hadoop.fs.FileSystem,
                               dir: String): Option[String] =
    readSidecar(fs, claimFilePath(dir))

  /** [[readClaim]], but an EMPTY read is re-read once after a short
    * pause (r20, the r19 ADVICE note): an in-flight winner's content
    * lands within milliseconds of its create, so a zero-byte sidecar
    * observed inside that gap would mis-diagnose a LIVE claim as torn —
    * and an operator following the torn-claim guidance
    * (releaseStoreClaim) while the winner's first batch is mid-flight
    * would delete the live claim and re-open the two-writer window the
    * CAS exists to close. A sidecar still empty after the settle pause
    * really is a crash remnant. */
  private def readClaimSettled(fs: org.apache.hadoop.fs.FileSystem,
                               dir: String): Option[String] = {
    val first = readClaim(fs, dir)
    if (!first.contains("")) first
    else {
      Thread.sleep(100)
      readClaim(fs, dir)
    }
  }

  /** The store's effective owner for admin-op gates: the claim sidecar
    * when present (a claimed store whose first meta write hasn't landed
    * is still OWNED — and a torn claim still blocks), else the meta's
    * recorded pin. */
  private def effectiveOwner(fs: org.apache.hadoop.fs.FileSystem,
                             dir: String,
                             metaWriter: Option[String]): Option[String] =
    readClaimSettled(fs, dir).orElse(metaWriter)

  /** The ONE ownership gate every admin read-x-overwrite op runs
    * ([[StreamOps.compactCdcSnapshot]], [[StreamOps.retainSnapshot]],
    * the index/code folds): an owned store demands the owner's identity;
    * a TORN claim gets the recovery guidance instead of an unsatisfiable
    * "maintained by writer &lt;empty&gt;" (r19 review — writerIdFor
    * never returns "", so no checkpoint path could ever match it). */
  private def requireStoreOwner(fs: org.apache.hadoop.fs.FileSystem,
                                dir: String, metaWriter: Option[String],
                                asWriter: Option[String], store: String,
                                op: String): Unit =
    effectiveOwner(fs, dir, metaWriter) match {
      case Some("") => throw new IllegalArgumentException(
        s"$store at $dir has a claim sidecar with NO content — a claim " +
          "attempt is in flight right now, or crashed between create " +
          "and write. If no stream is starting, clear it with " +
          s"releaseStoreClaim before running $op.")
      case Some(pinned) =>
        require(asWriter.contains(pinned),
          s"$store at $dir is maintained by writer $pinned — $op " +
            "without that stream's checkpoint identity (ownerCheckpoint) " +
            "would race its batches' writes and silently lose committed " +
            "state; pass the owning stream's checkpoint path and run " +
            "with the stream stopped")
      case None => // unowned: admin ops proceed
    }

  /** The body of [[StreamOps.releaseStoreClaim]]: drop the claim
    * sidecar, failing loudly when there was nothing to release — a
    * silent no-op on a mistyped path leaves the operator believing
    * takeover is done while the real claim survives (r19 review — the
    * ANN code store's claim lives at <indexPath>/codes, the most likely
    * slip). */
  def releaseClaim(spark: SparkSession, storePath: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.delete(claimFilePath(storePath), false),
      s"no ownership claim at ${claimFilePath(storePath)} — nothing " +
        "released; check the path (the ANN code store's claim lives at " +
        "<indexPath>/codes, not <indexPath>)")
  }

  /** Write/replace (Some) or remove (None) the claim OUTSIDE a race —
    * the ownership-RESET paths (a full bootstrap rewrite, an explicit
    * repin takeover), which run with the old stream stopped by their
    * own contract. Never a claim attempt: use [[claimOwnership]]. */
  private def resetClaim(fs: org.apache.hadoop.fs.FileSystem,
                         dir: String, writer: Option[String]): Unit =
    writer match {
      case Some(w) => writeSidecar(fs, claimFilePath(dir), w)
      case None => fs.delete(claimFilePath(dir), false)
    }

  /** Assert (writer = None: an admin/direct application, allowed only
    * on an UNOWNED store) or atomically take (writer = Some: a stream's
    * batch) ownership of a store, BEFORE its read-merge-overwrite
    * touches any data. The effective owner is the claim sidecar when
    * present, else the meta's recorded pin (`storedPin` — pre-claim
    * stores recorded the pin only there; the first matching batch
    * upgrades them by landing the sidecar, which is race-free because
    * that batch already owns the store). */
  private[graft] def claimOwnership(fs: org.apache.hadoop.fs.FileSystem,
                                    dir: String, writer: Option[String],
                                    storedPin: Option[String],
                                    store: String): Unit = {
    def fail(holder: String): Nothing = throw new IllegalArgumentException(
      s"$store at $dir is maintained by writer $holder; this " +
        s"${writer.fold("direct application carries no writer id")(w =>
          s"stream is writer $w")} — a concurrent second writer's " +
        "read-merge-overwrite would permanently lose committed batches. " +
        "Use a distinct path, or take over explicitly (repin, a full " +
        "bootstrap rewrite, or releaseStoreClaim with every stream " +
        "stopped).")
    def failTorn(): Nothing = throw new IllegalArgumentException(
      s"$store at $dir has a claim sidecar with NO content — a claim " +
        "attempt is in flight right now, or crashed between create and " +
        "write; nobody can prove a torn claim is theirs, so everyone " +
        "is refused. If no stream is starting, clear it with " +
        "releaseStoreClaim and restart the stream.")
    val claimed = readClaimSettled(fs, dir)
    if (claimed.contains("")) failTorn()
    (writer, claimed.orElse(storedPin)) match {
      case (None, Some(holder)) => fail(holder)
      case (None, None) => // unowned store, direct application allowed
      case (Some(w), Some(holder)) if holder != w => fail(holder)
      case (Some(w), Some(_)) => // ours — upgrade a pre-claim meta pin
        if (claimed.isEmpty) resetClaim(fs, dir, Some(w))
      case (Some(w), None) =>
        // the CAS: exclusive create — exactly one racer wins
        try {
          if (fs.getScheme == "file") {
            // Hadoop's local no-overwrite create is exists-then-open
            // (a syscall gap between the check and the open); go
            // through java.nio with CREATE_NEW, which IS O_EXCL — and
            // create WITH content in the one call (r20, the r19
            // verdict's What's-missing 3): the create-then-write pair
            // left a torn-claim window between two calls; a single
            // open(O_EXCL)+write shrinks it to a process death inside
            // the call (failTorn + releaseStoreClaim stay the
            // backstop). On HDFS the namenode create below is already
            // atomic.
            val p = java.nio.file.Paths.get(
              fs.makeQualified(claimFilePath(dir)).toUri.getPath)
            java.nio.file.Files.createDirectories(p.getParent)
            java.nio.file.Files.write(p,
              (w + "\n").getBytes(StandardCharsets.UTF_8),
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
          } else {
            val out = fs.create(claimFilePath(dir), false)
            try out.write((w + "\n").getBytes(StandardCharsets.UTF_8))
            finally out.close()
          }
        } catch {
          case e: java.io.IOException =>
            // the loser's view of the winner settles too: a zero-byte
            // read here is almost always the winner mid-write, not a
            // torn remnant (readClaimSettled re-reads once)
            readClaimSettled(fs, dir) match {
              case Some(h) if h == w => // a retried create of our own claim
              case Some(h) if h.nonEmpty => fail(h)
              case Some(_) => failTorn()
              case None =>
                // no sidecar at all: the create failed for a NON-race
                // reason (permissions, disk, transient FS error) —
                // surface the real cause instead of diagnosing a
                // phantom torn claim (r19 review)
                throw new java.io.IOException(
                  s"claim create failed at ${claimFilePath(dir)} with no " +
                    "sidecar present — not a lost race; see the cause", e)
            }
        }
    }
  }
}

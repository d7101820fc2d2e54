package graft.tables

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row

import scala.jdk.CollectionConverters._

/** The Delta log's action encoding, in one place (public protocol,
  * github.com/delta-io/delta PROTOCOL.md "Actions"): the actions a
  * commit, checkpoint or v2 checkpoint manifest holds, their
  * `_delta_log` JSON lines, their checkpoint parquet rows, and the
  * decoders back. Every writer ([[DeltaWrite]], [[DeltaDdl]],
  * [[DeltaConvert]]) encodes through it and every replay
  * ([[DeltaLog]]) decodes through it; one decoder per action serves
  * JSON lines and checkpoint rows alike.
  *
  * [[DeltaLog.Protocol]] and [[DeltaLog.Metadata]] are actions
  * themselves; the others are defined here.
  */
private[graft] object DeltaActions {

  import DeletionVectors.DvDescriptor
  import DeltaLog.{AddFile, CdcFile, Metadata, Protocol}

  private val mapper = new ObjectMapper()

  trait Action

  final case class Add(file: AddFile, modificationTime: Long, dataChange: Boolean)
      extends Action

  /** A `remove`. Writers always record the extended file metadata
    * (`partitionValues`, `size`); checkpoint tombstone rows carry only
    * path, timestamp and DV.
    */
  final case class Remove(
      path: String,
      deletionTimestamp: Option[Long],
      dataChange: Boolean,
      partitionValues: Map[String, Option[String]] = Map.empty,
      size: Long = 0L,
      dv: Option[DvDescriptor] = None)
      extends Action

  final case class Cdc(file: CdcFile) extends Action

  final case class CommitInfo(
      operation: String,
      timestamp: Long,
      inCommitTimestamp: Option[Long] = None,
      operationParameters: Map[String, String] = Map.empty)
      extends Action

  final case class Txn(appId: String, version: Long, lastUpdated: Option[Long] = None)
      extends Action

  final case class DomainMetadata(domain: String, configuration: String, removed: Boolean = false)
      extends Action

  final case class CheckpointMetadata(version: Long) extends Action

  final case class Sidecar(path: String, sizeInBytes: Long, modificationTime: Long)
      extends Action

  // ------------------------------------------------------ JSON lines

  /** The `_delta_log` JSON line of `a`. */
  def json(a: Action): String = {
    val root = mapper.createObjectNode()
    a match {
      case x: Add =>
        val n = root.putObject("add")
        val f = x.file
        n.put("path", encodePath(f.path))
        putValues(n.putObject("partitionValues"), f.partitionValues)
        n.put("size", f.size)
        n.put("modificationTime", x.modificationTime)
        n.put("dataChange", x.dataChange)
        f.stats.foreach(s => n.put("stats", s))
        if (f.tags.nonEmpty) putStrings(n.putObject("tags"), f.tags)
        f.dv.foreach(putDv(n, _))
        f.baseRowId.foreach(b => n.put("baseRowId", b))
        f.defaultRowCommitVersion.foreach(v => n.put("defaultRowCommitVersion", v))
      case x: Remove =>
        val n = root.putObject("remove")
        n.put("path", encodePath(x.path))
        x.deletionTimestamp.foreach(t => n.put("deletionTimestamp", t))
        n.put("dataChange", x.dataChange)
        n.put("extendedFileMetadata", true)
        putValues(n.putObject("partitionValues"), x.partitionValues)
        n.put("size", x.size)
        x.dv.foreach(putDv(n, _))
      case Cdc(f) =>
        val n = root.putObject("cdc")
        n.put("path", encodePath(f.path))
        putValues(n.putObject("partitionValues"), f.partitionValues)
        n.put("size", f.size)
        n.put("dataChange", false)
      case m: Metadata =>
        val n = root.putObject("metaData")
        n.put("id", m.id)
        n.putObject("format").put("provider", "parquet").putObject("options")
        n.put("schemaString", m.schemaString)
        val pc = n.putArray("partitionColumns")
        m.partitionColumns.foreach(pc.add)
        putStrings(n.putObject("configuration"), m.configuration)
        m.createdTime.foreach(t => n.put("createdTime", t))
      case p: Protocol =>
        val n = root.putObject("protocol")
        n.put("minReaderVersion", p.minReaderVersion)
        n.put("minWriterVersion", p.minWriterVersion)
        p.readerFeatures.foreach { fs => val arr = n.putArray("readerFeatures"); fs.foreach(arr.add) }
        p.writerFeatures.foreach { fs => val arr = n.putArray("writerFeatures"); fs.foreach(arr.add) }
      case c: CommitInfo =>
        val n = root.putObject("commitInfo")
        n.put("operation", c.operation)
        c.inCommitTimestamp.foreach(t => n.put("inCommitTimestamp", t))
        n.put("timestamp", c.timestamp)
        if (c.operationParameters.nonEmpty)
          putStrings(n.putObject("operationParameters"), c.operationParameters)
      case t: Txn =>
        val n = root.putObject("txn")
        n.put("appId", t.appId)
        n.put("version", t.version)
        t.lastUpdated.foreach(u => n.put("lastUpdated", u))
      case d: DomainMetadata =>
        val n = root.putObject("domainMetadata")
        n.put("domain", d.domain)
        n.put("configuration", d.configuration)
        n.put("removed", d.removed)
      case CheckpointMetadata(v) =>
        root.putObject("checkpointMetadata").put("version", v)
      case s: Sidecar =>
        val n = root.putObject("sidecar")
        n.put("path", s.path)
        n.put("sizeInBytes", s.sizeInBytes)
        n.put("modificationTime", s.modificationTime)
    }
    mapper.writeValueAsString(root)
  }

  private def putValues(n: ObjectNode, values: Map[String, Option[String]]): Unit =
    values.foreach {
      case (k, Some(v)) => n.put(k, v)
      case (k, None)    => n.putNull(k)
    }

  private def putStrings(n: ObjectNode, values: Map[String, String]): Unit =
    values.foreach { case (k, v) => n.put(k, v) }

  private def putDv(parent: ObjectNode, d: DvDescriptor): Unit = {
    val n = parent.putObject("deletionVector")
    n.put("storageType", d.storageType)
    n.put("pathOrInlineDv", d.pathOrInlineDv)
    d.offset.foreach(o => n.put("offset", o))
    n.put("sizeInBytes", d.sizeInBytes)
    n.put("cardinality", d.cardinality)
  }

  /** The actions of one JSON line whose kind (`add`, `metaData`, ...)
    * passes `keep`; kinds this codec does not model are skipped, as
    * the protocol asks of readers.
    */
  def parseLine(line: String, keep: String => Boolean = _ => true): Seq[Action] =
    mapper.readTree(line).fields().asScala.toSeq.collect {
      case e if keep(e.getKey) && !e.getValue.isNull => decode(e.getKey, new JsonFields(e.getValue))
    }.flatten

  /** Every action of a commit file or v2 JSON checkpoint manifest, in
    * file order (the file is read eagerly, each line decoded as the
    * iterator reaches it).
    */
  def read(fs: FileSystem, p: Path, keep: String => Boolean): Iterator[Action] = {
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    lines.iterator.filter(_.nonEmpty).flatMap(parseLine(_, keep))
  }

  /** The action of checkpoint column `key` held in struct `row`. */
  def fromRow(key: String, row: Row): Option[Action] = decode(key, new RowFields(row))

  /** A replayed file row of [[DeltaFilesDataset]]: the fields of a
    * checkpoint `add`, with the path already decoded.
    */
  def fileOfRow(row: Row): AddFile = addFile(new RowFields(row), pathEncoded = false)

  // -------------------------------------------------------- decoders

  /** One action's fields, read alike from a JSON object and from a
    * checkpoint struct row; a missing field and a null read as None.
    */
  private trait Fields {
    def str(n: String): Option[String]
    def long(n: String): Option[Long]
    def bool(n: String): Option[Boolean]
    def strs(n: String): Option[Seq[String]]
    /** A string map; null values stay (as None). */
    def values(n: String): Option[Map[String, Option[String]]]
    def obj(n: String): Option[Fields]

    def need(n: String): String =
      str(n).getOrElse(throw new IllegalArgumentException(s"Delta action without $n"))
    def strings(n: String): Map[String, String] =
      values(n).getOrElse(Map.empty).collect { case (k, Some(v)) => k -> v }
  }

  private final class JsonFields(node: JsonNode) extends Fields {
    private def get(n: String): Option[JsonNode] = Option(node.get(n)).filterNot(_.isNull)
    def str(n: String): Option[String] = get(n).map(_.asText())
    def long(n: String): Option[Long] = get(n).map(_.asLong())
    def bool(n: String): Option[Boolean] = get(n).map(_.asBoolean())
    def strs(n: String): Option[Seq[String]] =
      get(n).map(_.elements().asScala.map(_.asText()).toSeq)
    def values(n: String): Option[Map[String, Option[String]]] =
      get(n).map(_.fields().asScala.map { e =>
        e.getKey -> Option(e.getValue).filterNot(_.isNull).map(_.asText())
      }.toMap)
    def obj(n: String): Option[Fields] = get(n).map(new JsonFields(_))
  }

  private final class RowFields(row: Row) extends Fields {
    private val names = row.schema.fieldNames
    private def get(n: String): Option[Any] = {
      val i = names.indexOf(n)
      if (i < 0) None else Option(row.get(i))
    }
    def str(n: String): Option[String] = get(n).map(_.toString)
    def long(n: String): Option[Long] = get(n).map(_.asInstanceOf[Number].longValue())
    def bool(n: String): Option[Boolean] = get(n).map(_.asInstanceOf[Boolean])
    def strs(n: String): Option[Seq[String]] =
      get(n).map(_.asInstanceOf[scala.collection.Seq[String]].toSeq)
    def values(n: String): Option[Map[String, Option[String]]] =
      get(n).map(_.asInstanceOf[scala.collection.Map[String, String]]
        .map { case (k, v) => k -> Option(v) }.toMap)
    def obj(n: String): Option[Fields] = get(n).map(r => new RowFields(r.asInstanceOf[Row]))
  }

  private def decode(key: String, f: Fields): Option[Action] = key match {
    case "add" =>
      Some(Add(addFile(f, pathEncoded = true),
        f.long("modificationTime").getOrElse(0L), f.bool("dataChange").getOrElse(true)))
    case "remove" =>
      Some(Remove(decodePath(f.need("path")), f.long("deletionTimestamp"),
        f.bool("dataChange").getOrElse(true), f.values("partitionValues").getOrElse(Map.empty),
        f.long("size").getOrElse(0L), f.obj("deletionVector").map(dv)))
    case "cdc" =>
      Some(Cdc(CdcFile(decodePath(f.need("path")),
        f.values("partitionValues").getOrElse(Map.empty), f.long("size").getOrElse(0L))))
    case "metaData" =>
      Some(Metadata(f.need("schemaString"), f.strs("partitionColumns").getOrElse(Seq.empty),
        f.strings("configuration"), f.str("id").getOrElse(""), f.long("createdTime")))
    case "protocol" =>
      Some(Protocol(f.long("minReaderVersion").fold(1)(_.toInt),
        f.long("minWriterVersion").fold(2)(_.toInt),
        f.strs("readerFeatures"), f.strs("writerFeatures")))
    case "commitInfo" =>
      Some(CommitInfo(f.str("operation").getOrElse(""), f.long("timestamp").getOrElse(0L),
        f.long("inCommitTimestamp"), f.strings("operationParameters")))
    case "txn" =>
      Some(Txn(f.need("appId"), f.long("version").getOrElse(-1L), f.long("lastUpdated")))
    case "domainMetadata" =>
      Some(DomainMetadata(f.need("domain"), f.str("configuration").getOrElse(""),
        f.bool("removed").getOrElse(false)))
    case "checkpointMetadata" =>
      Some(CheckpointMetadata(f.long("version").getOrElse(-1L)))
    case "sidecar" =>
      Some(Sidecar(f.need("path"), f.long("sizeInBytes").getOrElse(0L),
        f.long("modificationTime").getOrElse(0L)))
    case _ => None
  }

  private def addFile(f: Fields, pathEncoded: Boolean): AddFile = {
    val path = f.need("path")
    AddFile(
      if (pathEncoded) decodePath(path) else path,
      f.values("partitionValues").getOrElse(Map.empty),
      f.long("size").getOrElse(0L),
      f.str("stats"),
      f.obj("deletionVector").map(dv),
      f.strings("tags"),
      f.long("baseRowId"),
      f.long("defaultRowCommitVersion"))
  }

  private def dv(f: Fields): DvDescriptor =
    DvDescriptor(f.need("storageType"), f.need("pathOrInlineDv"), f.long("offset"),
      f.long("sizeInBytes").getOrElse(0L).toInt, f.long("cardinality").getOrElse(0L))

  // ------------------------------------------------- checkpoint rows

  /** One checkpoint row: exactly one column set. A checkpoint file
    * holds a layout's subset of these columns ([[ClassicCheckpoint]],
    * [[V2Manifest]], [[V2Sidecar]]).
    */
  final case class ActionRow(
      add: Option[CpAdd] = None,
      remove: Option[CpRemove] = None,
      metaData: Option[CpMeta] = None,
      protocol: Option[CpProtocol] = None,
      txn: Option[CpTxn] = None,
      domainMetadata: Option[CpDomain] = None,
      checkpointMetadata: Option[CpCkptMeta] = None,
      sidecar: Option[CpSidecar] = None)

  /** Column layouts of the three checkpoint file kinds. */
  val ClassicCheckpoint: Seq[String] =
    Seq("add", "metaData", "protocol", "remove", "txn", "domainMetadata")
  val V2Manifest: Seq[String] =
    Seq("protocol", "metaData", "checkpointMetadata", "sidecar", "domainMetadata", "txn")
  val V2Sidecar: Seq[String] = Seq("add", "remove")

  /** The checkpoint row of `a` (commitInfo and cdc never appear in
    * checkpoints).
    */
  def row(a: Action): ActionRow = a match {
    case x: Add =>
      val f = x.file
      ActionRow(add = Some(CpAdd(encodePath(f.path),
        // protocol: null partition value → null map value
        f.partitionValues.map { case (k, v) => k -> v.orNull },
        f.size, x.modificationTime, x.dataChange, f.stats.orNull, f.dv.map(dvRow),
        Option(f.tags).filter(_.nonEmpty), f.baseRowId, f.defaultRowCommitVersion)))
    case x: Remove =>
      ActionRow(remove = Some(CpRemove(encodePath(x.path),
        x.deletionTimestamp.getOrElse(0L), x.dataChange, x.dv.map(dvRow))))
    case m: Metadata =>
      ActionRow(metaData = Some(CpMeta(m.id, CpFormat("parquet", Map.empty),
        m.schemaString, m.partitionColumns, m.configuration, m.createdTime)))
    case p: Protocol =>
      ActionRow(protocol = Some(CpProtocol(
        p.minReaderVersion, p.minWriterVersion, p.readerFeatures, p.writerFeatures)))
    case t: Txn => ActionRow(txn = Some(CpTxn(t.appId, t.version)))
    case d: DomainMetadata =>
      ActionRow(domainMetadata = Some(CpDomain(d.domain, d.configuration, d.removed)))
    case CheckpointMetadata(v) => ActionRow(checkpointMetadata = Some(CpCkptMeta(v)))
    case s: Sidecar =>
      ActionRow(sidecar = Some(CpSidecar(s.path, s.sizeInBytes, s.modificationTime)))
    case other =>
      throw new IllegalArgumentException(s"$other has no checkpoint row")
  }

  private def dvRow(d: DvDescriptor): CpDv =
    CpDv(d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes, d.cardinality)

  final case class CpProtocol(
      minReaderVersion: Int,
      minWriterVersion: Int,
      readerFeatures: Option[Seq[String]],
      writerFeatures: Option[Seq[String]])
  final case class CpFormat(provider: String, options: Map[String, String])
  final case class CpMeta(
      id: String,
      format: CpFormat,
      schemaString: String,
      partitionColumns: Seq[String],
      configuration: Map[String, String],
      createdTime: Option[Long] = None)
  final case class CpDv(
      storageType: String,
      pathOrInlineDv: String,
      offset: Option[Long],
      sizeInBytes: Int,
      cardinality: Long)
  final case class CpAdd(
      path: String,
      partitionValues: Map[String, String],
      size: Long,
      modificationTime: Long,
      dataChange: Boolean,
      stats: String,
      deletionVector: Option[CpDv] = None,
      tags: Option[Map[String, String]] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)
  final case class CpDomain(domain: String, configuration: String, removed: Boolean = false)
  final case class CpRemove(
      path: String,
      deletionTimestamp: Long,
      dataChange: Boolean,
      deletionVector: Option[CpDv] = None)
  final case class CpTxn(appId: String, version: Long)
  final case class CpCkptMeta(version: Long)
  final case class CpSidecar(path: String, sizeInBytes: Long, modificationTime: Long)

  // ----------------------------------------------------------- paths

  /** add/remove/cdc paths are percent-encoded relative URIs per the
    * protocol.
    */
  private def decodePath(p: String): String =
    try java.net.URI.create(p).getPath
    catch { case _: IllegalArgumentException => p }

  /** [[decodePath]]'s exact inverse, applied at EVERY action write
    * (commits, cdc, checkpoints): RFC 3986 pchar set kept literal
    * except ':' (a colon in a relative URI's first segment would parse
    * as a scheme) — everything else, '%' included, percent-encodes its
    * UTF-8 bytes. Without this, a Hive-escaped partition dir like
    * `part=x%3Ay` written raw would DECODE on read to `part=x:y` and
    * miss the file.
    */
  private def encodePath(p: String): String = {
    val sb = new StringBuilder(p.length + 8)
    p.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      val keep = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || "-._~!$&'()*+,;=@/".indexOf(c.toInt) >= 0
      if (keep) sb.append(c) else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }
}

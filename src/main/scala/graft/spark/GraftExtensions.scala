package graft.spark

import graft.canon.{CanonException, CanonOptions, Rdfc10}
import graft.rdf.{NQuadsParser, Quad, TermKind}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Literal option parsing shared by the RDFC-1.0 SQL functions, the
  * SQL face of [[CanonOptions]]: up to two trailing LITERAL options
  * after the document column — a hash-algorithm string ('SHA-256' |
  * 'SHA-384') and/or an integer HNDQ call limit, in either order (the
  * types disambiguate). */
private[spark] object ScalarCanonOptions {
  val HashAlgorithms: Set[String] = Set("SHA-256", "SHA-384")

  def parse(name: String, extra: Seq[Expression]): CanonOptions = {
    require(extra.length <= 2,
      s"$name takes at most 3 arguments: (doc[, hashAlg][, hndqLimit])")
    var o = CanonOptions.default
    var sawAlg = false
    var sawLimit = false
    extra.foreach {
      case Literal(s: UTF8String, StringType) =>
        val alg = s.toString
        require(!sawAlg,
          s"$name: duplicate hash-algorithm option ('${o.hashAlgorithm}' then '$alg')")
        sawAlg = true
        require(HashAlgorithms.contains(alg),
          s"$name: unknown hash algorithm '$alg' (expected ${HashAlgorithms.mkString(" | ")})")
        o = o.copy(hashAlgorithm = alg)
      case Literal(i: Int, IntegerType) =>
        require(!sawLimit,
          s"$name: duplicate HNDQ call limit option (${o.hndqCallLimit} then $i)")
        sawLimit = true
        require(i > 0, s"$name: HNDQ call limit must be positive, got $i")
        o = o.copy(hndqCallLimit = i)
      case e => throw new IllegalArgumentException(
        s"$name options must be foldable literals (a hash-algorithm string " +
          s"and/or an int HNDQ call limit); got $e")
    }
    o
  }
}

/** The scalar RDFC-1.0 functions: an N-Quads document string in, a
  * string out, `result` of its parsed quads. A parse or
  * canonicalization error (HNDQ budget exceeded) becomes `onError`,
  * NULL by default: data errors stay data, as the per-graph error
  * rows of [[CanonEngine.canonicalizePerGraph]] do. CodegenFallback
  * is deliberate: the kernel is a whole-document recursive algorithm,
  * with nothing for codegen to fuse. */
abstract class ScalarCanonFunction extends UnaryExpression with CodegenFallback {
  def options: CanonOptions
  protected def result(quads: Vector[Quad]): String
  protected def onError(e: RuntimeException): String = null

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column")
  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any = {
    val out =
      try result(NQuadsParser.parseDocument(input.asInstanceOf[UTF8String].toString))
      catch {
        case e: CanonException => onError(e)
        case e: NQuadsParser.ParseException => onError(e)
      }
    if (out == null) null else UTF8String.fromString(out)
  }
}

/** SQL scalar function `rdfc10_canonicalize(nquads_doc[, hashAlg][,
  * hndqLimit])`: the canonical N-Quads document, NULL on unparseable
  * or poison input; use [[Rdfc10Status]] (`rdfc10_status`) to
  * distinguish WHICH failure a NULL hides. */
case class Rdfc10Canonicalize(child: Expression,
                              options: CanonOptions = CanonOptions.default)
    extends ScalarCanonFunction {
  override def prettyName: String = "rdfc10_canonicalize"
  override protected def result(quads: Vector[Quad]): String =
    Rdfc10.canonicalize(quads, options)
  override protected def withNewChildInternal(newChild: Expression): Rdfc10Canonicalize =
    copy(child = newChild)
}

/** Same surface for the issued-identifiers map (the spec's
  * "canonicalized dataset"): `rdfc10_issue(nquads_doc[, hashAlg][,
  * hndqLimit])` → JSON map. */
case class Rdfc10Issue(child: Expression,
                       options: CanonOptions = CanonOptions.default)
    extends ScalarCanonFunction {
  override def prettyName: String = "rdfc10_issue"
  override protected def result(quads: Vector[Quad]): String =
    CanonEngine.issuedMapJson(Rdfc10.issue(quads, options).issuedMap)
  override protected def withNewChildInternal(newChild: Expression): Rdfc10Issue =
    copy(child = newChild)
}

/** `rdfc10_status(nquads_doc[, hashAlg][, hndqLimit])` → the error
  * taxonomy string the NULL of `rdfc10_canonicalize`/`rdfc10_issue`
  * collapses: 'ok', 'parse_error: ...', or the canonicalization error
  * name ('HndqCallLimitExceeded(4000)', ...) — the same status
  * strings [[CanonEngine.canonicalizeOne]] emits, so SQL users can
  * tell malformed input from poison graphs without leaving SQL. */
case class Rdfc10Status(child: Expression,
                        options: CanonOptions = CanonOptions.default)
    extends ScalarCanonFunction {
  override def prettyName: String = "rdfc10_status"
  override protected def result(quads: Vector[Quad]): String = {
    Rdfc10.issue(quads, options); "ok"
  }
  override protected def onError(e: RuntimeException): String = e match {
    case c: CanonException => CanonEngine.statusOf(c)
    case p => s"parse_error: ${p.getMessage}"
  }
  override protected def withNewChildInternal(newChild: Expression): Rdfc10Status =
    copy(child = newChild)
}

/** SQL aggregate `rdfc10_canon_dataset(...)`: per-GROUP RDFC-1.0
  * canonicalization — the SQL face of
  * [[CanonEngine.canonicalizePerGraph]], so the distributed engine
  * composes in pure SQL:
  *
  * {{{
  * SELECT repo, rdfc10_canon_dataset(subjKind, subj, pred, obj, objKind).*
  * FROM triples GROUP BY repo
  * }}}
  *
  * Accepts the 5-column triple-table shape (objects land in the
  * default graph, literals with empty datatype/lang — the builder
  * expands it) or the full 9-column quad shape
  * (sKind, s, p, oKind, o, oDt, oLang, gKind, g). Returns
  * struct(status, canonicalNQuads, issuedMapJson, outputSha256,
  * quadCount, bnodeCount, hndqCalls); a poisoned group yields an
  * error STATUS, never a failed query (reference negative-test
  * semantics, `tests/manifest.jsonld:851-857`).
  *
  * A `TypedImperativeAggregate` is the honest Catalyst home for this:
  * there is no partial aggregation to exploit (the kernel needs the
  * whole graph — SURVEY §4.3), but the buffer composes with
  * hash/sort aggregation, spilling, and AQE like any built-in
  * aggregate, and update/merge stay object-typed so quads are not
  * re-encoded per row. The buffer dedups quads as they arrive (set
  * semantics, reference `src/api.rs:287`), so buffer size is bounded
  * by the DISTINCT quad count of the group, not the input row count.
  *
  * A row with a NULL kind column POISONS the group: kind bytes have no
  * usable default (0 = IRI would silently reinterpret the term), and
  * silently skipping the row — round-4 behavior — changed the
  * canonical bytes with no signal, hiding upstream data bugs (an
  * unintended outer-join null) behind a different hash. Poisoned
  * groups yield an error STATUS row (`NullKindInput(n)`), never a
  * failed query — the same contract as poison graphs.
  */
case class Rdfc10CanonDataset(
    children: Seq[Expression],
    hndqCallLimit: Int = CanonOptions.default.hndqCallLimit,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Rdfc10CanonDataset.Buffer] {
  import Rdfc10CanonDataset.Buffer

  override def prettyName: String = "rdfc10_canon_dataset"
  override def nullable: Boolean = false

  override def dataType: DataType = StructType(Seq(
    StructField("status", StringType, nullable = false),
    StructField("canonicalNQuads", StringType, nullable = false),
    StructField("issuedMapJson", StringType, nullable = false),
    StructField("outputSha256", StringType, nullable = false),
    StructField("quadCount", LongType, nullable = false),
    StructField("bnodeCount", IntegerType, nullable = false),
    StructField("hndqCalls", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.length != 9)
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes 5 (triple) or 9 (quad) arguments")
    val kindOk = Seq(0, 3, 7).forall(i => children(i).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    val strOk = Seq(1, 2, 4, 5, 6, 8).forall(children(_).dataType == StringType)
    if (kindOk && strOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (int, string, string, int, string, string, string, int, string)")
  }

  override def createAggregationBuffer(): Buffer =
    new Buffer(mutable.LinkedHashSet.empty, 0L)

  private def str(e: Expression, row: InternalRow): String = {
    val v = e.eval(row)
    if (v == null) "" else v.asInstanceOf[UTF8String].toString
  }

  /** The string columns null-coalesce to ""; a NULL kind column
    * poisons the group (counted, surfaced as an error status in
    * [[eval]]) — see the class scaladoc. */
  override def update(buf: Buffer, row: InternalRow): Buffer = {
    val sk = children(0).eval(row)
    val ok = children(3).eval(row)
    val gk = children(7).eval(row)
    if (sk != null && ok != null && gk != null)
      buf.quads += Quad(sk.asInstanceOf[Number].byteValue(), str(children(1), row),
        str(children(2), row), ok.asInstanceOf[Number].byteValue(),
        str(children(4), row), str(children(5), row), str(children(6), row),
        gk.asInstanceOf[Number].byteValue(), str(children(8), row))
    else buf.nullKindRows += 1L
    buf
  }

  override def merge(a: Buffer, b: Buffer): Buffer = {
    a.quads ++= b.quads
    a.nullKindRows += b.nullKindRows
    a
  }

  override def eval(buf: Buffer): Any = {
    val r =
      if (buf.nullKindRows > 0)
        // poisoned group: loud error status, no silent byte drift
        graft.spark.CanonResult("", "", "{}", s"NullKindInput(${buf.nullKindRows})",
          -1, buf.quads.size, -1, "")
      else CanonEngine.canonicalizeOne("", buf.quads.toVector,
        CanonOptions.default.copy(hndqCallLimit = hndqCallLimit),
        assumeDistinct = true) // the buffer is already a set
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(r.status), UTF8String.fromString(r.canonicalNQuads),
      UTF8String.fromString(r.issuedMapJson), UTF8String.fromString(r.outputSha256),
      r.quadCount, r.bnodeCount, r.hndqCalls))
  }

  // Spill codec, VERSIONED (leading format byte — round-4's change
  // from writeUTF to int-length-prefixed UTF-8 was unversioned, so a
  // persisted streaming-state buffer from the old codec would
  // deserialize garbage lengths silently): v2 = format byte, null-kind
  // count, quad count, then length-prefixed raw UTF-8 strings (NOT
  // writeUTF — it throws past 65535 encoded bytes, and document-body
  // literals routinely exceed 64 KB at the scale this aggregate
  // targets; a codec exception would fail the whole query,
  // contradicting the "poison yields an error STATUS" contract).
  // Unknown leading byte -> explicit error naming the remedy. (Both
  // prior formats started with a writeInt(size) whose first byte is 0
  // for any size < 2^24, so the version byte is unambiguous.)
  private def writeStr(out: java.io.DataOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.writeInt(b.length); out.write(b)
  }
  private def readStr(in: java.io.DataInputStream): String = {
    val b = new Array[Byte](in.readInt())
    in.readFully(b)
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }

  override def serialize(buf: Buffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeByte(Rdfc10CanonDataset.CodecVersion)
    out.writeLong(buf.nullKindRows)
    out.writeInt(buf.quads.size)
    buf.quads.foreach { q =>
      out.writeByte(q.sKind); writeStr(out, q.s); writeStr(out, q.p)
      out.writeByte(q.oKind); writeStr(out, q.o); writeStr(out, q.oDt)
      writeStr(out, q.oLang); out.writeByte(q.gKind); writeStr(out, q.g)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val version = in.readByte()
    if (version != Rdfc10CanonDataset.CodecVersion)
      throw new IllegalStateException(
        s"rdfc10_canon_dataset buffer format $version is not the supported " +
          s"version ${Rdfc10CanonDataset.CodecVersion}; state written by an " +
          "older release (e.g. a pre-v2 streaming checkpoint) must be " +
          "discarded and rebuilt")
    val nullKindRows = in.readLong()
    val n = in.readInt()
    // sanity-check the decoded counts before trusting the buffer: a
    // legacy (pre-version-byte) buffer whose leading writeInt(size)
    // had size >= 0x02000000 would have read byte 2 as a "valid"
    // version and decoded garbage — negative or absurd counts catch
    // that residual ambiguity loudly.
    if (nullKindRows < 0 || n < 0 || n.toLong * 9 > bytes.length)
      throw new IllegalStateException(
        s"rdfc10_canon_dataset buffer is corrupt or from an unsupported " +
          s"release (nullKindRows=$nullKindRows, quads=$n, " +
          s"${bytes.length} bytes); discard and rebuild the state")
    val quads = mutable.LinkedHashSet.empty[Quad]
    var i = 0
    while (i < n) {
      quads += Quad(in.readByte(), readStr(in), readStr(in), in.readByte(),
        readStr(in), readStr(in), readStr(in), in.readByte(), readStr(in))
      i += 1
    }
    new Buffer(quads, nullKindRows)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): Rdfc10CanonDataset =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): Rdfc10CanonDataset =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Rdfc10CanonDataset =
    copy(children = newChildren)
}

object Rdfc10CanonDataset {
  /** Aggregation state: the deduped quad set plus the count of
    * poisoning null-kind rows (see the class scaladoc). */
  final class Buffer(val quads: mutable.LinkedHashSet[Quad],
                     var nullKindRows: Long)

  /** Leading byte of the spill codec (see serialize). */
  val CodecVersion: Byte = 2

  /** Builder: expand the 5-arg triple shape (subjKind, subj, pred,
    * obj, objKind) to the 9-arg quad shape — plain literals carry
    * dt = "" / lang = "" and everything lands in the default graph,
    * matching `Kg.canonicalizeTriples`. An optional trailing INT
    * literal (6th / 10th argument) sets the HNDQ call limit, giving
    * SQL the same budget knob as the Dataset API. */
  def build(args0: Seq[Expression]): Expression = {
    val (args, limit) = args0.lastOption match {
      case Some(l @ Literal(_: Int, IntegerType)) if args0.length == 6 || args0.length == 10 =>
        // the scalar functions' analysis-time validation: a non-positive
        // budget would poison every non-trivial group
        (args0.init, ScalarCanonOptions.parse("rdfc10_canon_dataset", Seq(l)).hndqCallLimit)
      case _ => (args0, CanonOptions.default.hndqCallLimit)
    }
    args.length match {
      case 5 =>
        val e = lit("")
        Rdfc10CanonDataset(Seq(args(0), args(1), args(2), args(4), args(3),
          e, e, Literal(TermKind.DefaultGraph, ByteType), e), limit)
      case _ => Rdfc10CanonDataset(args, limit)
    }
  }
  private def lit(s: String): Expression = Literal(UTF8String.fromString(s), StringType)
}

object GraftFunctions {
  private def scalar(name: String, cls: Class[_], make: (Expression, CanonOptions) => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => make(children.head, ScalarCanonOptions.parse(name, children.tail)))

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    scalar("rdfc10_canonicalize", classOf[Rdfc10Canonicalize], Rdfc10Canonicalize(_, _)),
    scalar("rdfc10_issue", classOf[Rdfc10Issue], Rdfc10Issue(_, _)),
    scalar("rdfc10_status", classOf[Rdfc10Status], Rdfc10Status(_, _)),
    (FunctionIdentifier("rdfc10_canon_dataset"),
      new ExpressionInfo(classOf[Rdfc10CanonDataset].getName, "rdfc10_canon_dataset"),
      (children: Seq[Expression]) => Rdfc10CanonDataset.build(children))
  )

  /** Imperative registration on an existing session (tests, REPLs). */
  def register(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      reg.registerFunction(id, info, builder)
    }
  }
}

/** Session-build wiring: `--conf spark.sql.extensions=graft.spark.GraftExtensions`
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`)
  * makes the RDFC-1.0 engine reachable from plain SQL like every
  * built-in function. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach(ext.injectFunction)
}

package graft.index

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, Expression, PlanExpression, Predicate}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal

/** Build-time selectivity sample for dense index artifacts (round 10).
  *
  * The reference decides index-vs-seqscan with a cost model at plan time
  * (src/index/am.rs:105-133 — `amcostestimate` feeds the Postgres
  * planner); the Spark analog needs its own cardinality source, because
  * without CBO statistics Catalyst's `Filter` estimates are
  * size-passthrough. So `ensure` persists a deterministic uniform sample
  * of the artifact's FILTERABLE columns (`_sample.bin`, ≤[[MaxRows]]
  * rows picked by lowest xxhash64(id) — stable across rebuilds of the
  * same source), and the filtered-top-k pushdown arm evaluates the
  * query's predicate on the sample DRIVER-side (no job launch, the
  * rule-time convention) to estimate selectivity with a confidence
  * bound. Hyper-selective predicates then fall back to the unrewritten
  * pre-filter exact plan; moderately selective ones widen the candidate
  * breadth so the one-shot fetch stops underfilling.
  *
  * Only atomic, exactly-serializable column types participate; a
  * predicate referencing anything else (the vector column, decimals,
  * structs) simply gets no estimate and keeps the fixed-breadth
  * behavior. The file is underscore-prefixed so parquet-dir artifacts
  * (IVF) never see it as a data file. */
object SampleSidecar {
  /** Staleness generation: joins dense ensure `requires` as sample=<Gen>
    * so pre-sample artifacts rebuild (the q_index_stat rows carry it). */
  val Gen = "rows1"
  val FileName = "_sample.bin"
  val MaxRows = 4096
  private val Magic = 0x47534d50 // "GSMP"

  final case class Sample(names: Array[String], types: Array[DataType],
      nullable: Array[Boolean], rows: Array[InternalRow], total: Long) {
    def n: Int = rows.length
  }

  private def typeId(dt: DataType): Int = dt match {
    case BooleanType => 1
    case ByteType => 2
    case ShortType => 3
    case IntegerType => 4
    case LongType => 5
    case FloatType => 6
    case DoubleType => 7
    case StringType => 8
    case DateType => 9
    case TimestampType => 10
    case TimestampNTZType => 11
    case _ => -1
  }

  private def typeOf(id: Int): DataType = id match {
    case 1 => BooleanType
    case 2 => ByteType
    case 3 => ShortType
    case 4 => IntegerType
    case 5 => LongType
    case 6 => FloatType
    case 7 => DoubleType
    case 8 => StringType
    case 9 => DateType
    case 10 => TimestampType
    case 11 => TimestampNTZType
  }

  def supported(dt: DataType): Boolean = typeId(dt) > 0

  /** Collect and persist the sample under `dataDir`. No-op when no
    * column is serializable. Rows are picked by lowest xxhash64 of the
    * id column when `idCol` names a sampled column, else of every
    * sampled column — with all columns as tie-breakers either way, the
    * pick is a deterministic function of the source rows. Runs two
    * small jobs (count + take-lowest) — ensure-time cost, never
    * search-time. */
  def write(spark: SparkSession, df: DataFrame, idCol: String,
      dataDir: String): Unit = {
    val fields = df.schema.fields.filter(f => supported(f.dataType))
    if (fields.isEmpty) return
    val schema = StructType(fields.toIndexedSeq)
    val cols = fields.map(f => col(f.name)).toIndexedSeq
    val hashCol =
      if (fields.exists(_.name == idCol)) xxhash64(col(idCol))
      else xxhash64(cols: _*)
    val sampled = df.select(cols: _*)
      .withColumn("__gs_h", hashCol)
      .orderBy(col("__gs_h") +: cols: _*)
      .limit(MaxRows)
      .drop("__gs_h")
      .collect()
    // an underfull sample IS the table — the count job only runs when
    // the cap was hit (one job instead of two on small/medium sources)
    val total =
      if (sampled.length < MaxRows) sampled.length.toLong else df.count()
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val internal = sampled.map(r => toCatalyst(r).asInstanceOf[InternalRow])
    val p = new Path(dataDir, FileName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(p, true)))
    try {
      out.writeInt(Magic)
      out.writeLong(total)
      out.writeInt(fields.length)
      fields.foreach { f =>
        out.writeUTF(f.name)
        out.writeInt(typeId(f.dataType))
        out.writeBoolean(f.nullable)
      }
      out.writeInt(internal.length)
      internal.foreach { row =>
        var i = 0
        while (i < fields.length) {
          val isNull = row.isNullAt(i)
          out.writeBoolean(isNull)
          if (!isNull) typeId(fields(i).dataType) match {
            case 1 => out.writeBoolean(row.getBoolean(i))
            case 2 => out.writeByte(row.getByte(i))
            case 3 => out.writeShort(row.getShort(i))
            case 4 | 9 => out.writeInt(row.getInt(i))
            case 5 | 10 | 11 => out.writeLong(row.getLong(i))
            case 6 => out.writeFloat(row.getFloat(i))
            case 7 => out.writeDouble(row.getDouble(i))
            case 8 =>
              val b = row.getUTF8String(i).getBytes
              out.writeInt(b.length); out.write(b)
          }
          i += 1
        }
      }
    } finally out.close()
  }

  // cache keyed by file identity (path + mtime + len) — the GraphCache /
  // subSchemaCache convention: a reindexed generation is a new file
  private val cache = new ConcurrentHashMap[(String, Long, Long), Sample]()

  /** Load the sample under `dataDir`; None when absent/unreadable (the
    * conservative pre-sample fallback). */
  def load(spark: SparkSession, dataDir: String): Option[Sample] = {
    val p = new Path(dataDir, FileName)
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) return None
      val st = fs.getFileStatus(p)
      val key = (p.toString, st.getModificationTime, st.getLen)
      Option(cache.get(key)).orElse {
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(fs.open(p)))
        try {
          if (in.readInt() != Magic) return None
          val total = in.readLong()
          val nCols = in.readInt()
          val names = new Array[String](nCols)
          val types = new Array[DataType](nCols)
          val nullable = new Array[Boolean](nCols)
          var c = 0
          while (c < nCols) {
            names(c) = in.readUTF()
            types(c) = typeOf(in.readInt())
            nullable(c) = in.readBoolean()
            c += 1
          }
          val nRows = in.readInt()
          val rows = new Array[InternalRow](nRows)
          var r = 0
          while (r < nRows) {
            val vals = new Array[Any](nCols)
            var i = 0
            while (i < nCols) {
              if (!in.readBoolean()) vals(i) = typeId(types(i)) match {
                case 1 => in.readBoolean()
                case 2 => in.readByte()
                case 3 => in.readShort()
                case 4 | 9 => in.readInt()
                case 5 | 10 | 11 => in.readLong()
                case 6 => in.readFloat()
                case 7 => in.readDouble()
                case 8 =>
                  val b = new Array[Byte](in.readInt())
                  in.readFully(b); UTF8String.fromBytes(b)
              }
              i += 1
            }
            rows(r) = new GenericInternalRow(vals)
            r += 1
          }
          val s = Sample(names, types, nullable, rows, total)
          cache.put(key, s)
          Some(s)
        } finally in.close()
      }
    } catch { case NonFatal(_) => None }
  }

  /** Evaluate `cond` on the sample driver-side. Some((matched, sampled,
    * total)) when every referenced attribute maps by name AND type onto
    * a sampled column; None otherwise (unknown column, nondeterminism,
    * subquery, runtime error — all conservative fallbacks). */
  def estimate(spark: SparkSession, dataDir: String,
      cond: Expression): Option[(Long, Long, Long)] = {
    if (!cond.deterministic) return None
    if (cond.exists(_.isInstanceOf[PlanExpression[_]])) return None
    val sample = load(spark, dataDir).getOrElse(return None)
    val byName = sample.names.zipWithIndex.toMap
    var ok = true
    val bound = cond.transformUp {
      case a: AttributeReference =>
        byName.get(a.name) match {
          case Some(i) if sample.types(i) == a.dataType =>
            BoundReference(i, sample.types(i), sample.nullable(i))
          case _ => ok = false; a
        }
    }
    if (!ok) return None
    try {
      val pred = Predicate.createInterpreted(bound)
      pred.initialize(0)
      var m = 0L
      var i = 0
      while (i < sample.rows.length) {
        if (pred.eval(sample.rows(i))) m += 1
        i += 1
      }
      Some((m, sample.rows.length.toLong, sample.total))
    } catch { case NonFatal(_) => None }
  }

  /** Wilson lower confidence bound (z=2, ~97.7% one-sided) on the match
    * probability — the conservative selectivity the breadth sizing uses,
    * so an unlucky sample inflates the candidate fetch, never starves
    * it. */
  def wilsonLower(m: Long, n: Long): Double = {
    if (n <= 0) return 0.0
    val z = 2.0
    val z2 = z * z
    val p = m.toDouble / n
    val denom = 1.0 + z2 / n
    val center = p + z2 / (2.0 * n)
    val margin = z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
    math.max(0.0, (center - margin) / denom)
  }
}

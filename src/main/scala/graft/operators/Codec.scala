package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.graftshim.Shims
import graft.index.IndexCatalog

/**
 * The quantizer a build asks for, before any training has run: SQ8, PQ
 * (8-bit or 4-bit packed codes) or RaBitQ. Together with the trained
 * [[Codec]] it is the repo's only quantizer abstraction, generic over
 * the coarse layer the way the reference keeps crates/quantization
 * generic over flat/IVF/HNSW (scalar.rs, product.rs, rabitq.rs; windowed
 * rerank reranker/flat.rs). Every layer — [[CodedFlat]], [[CodedIvf]],
 * [[CodedHnsw]] and [[IncrQuant]] — trains, persists, reloads, encodes
 * and scores through it; a layer's manifest kind is the codec `name`
 * with the layer's affix (`sq8`, `ivfsq8`, `hnsw_sq8`, `sq8_incr`).
 *
 * `codeCol` names the code column of the flat and IVF artifacts, and
 * `window` is their default rerank window (candidates = k·window).
 */
sealed abstract class Quant[+C <: Codec](val name: String,
    val codeCol: String, val window: Int) extends Serializable {
  /** Training parameters an existing artifact must carry to be reused. */
  def requires: Map[String, String]
  /** Train over the build rows (non-null, finite). */
  def train(rows: DataFrame, vecCol: String, seed: Long = 42L): C
  /** The trained codec a manifest persisted. */
  def load(mf: IndexCatalog.Manifest): C
}

/** A family whose codec is a [[ListCodec]] — the ones an IVF scan can
  * score per probed list. */
sealed abstract class ListQuant[+C <: ListCodec](name: String,
    codeCol: String, window: Int) extends Quant[C](name, codeCol, window)

/** Scalar quantization, bits=8: per-dimension (min, width) bounds. */
case object Sq8Quant extends ListQuant[Sq8Codec]("sq8", "codes", 4) {
  def requires: Map[String, String] = Map("bits" -> "8")
  def train(rows: DataFrame, vecCol: String, seed: Long): Sq8Codec = {
    val (mins, widths) = Sq8.train(rows, vecCol)
    Sq8Codec(mins, widths)
  }
  def load(mf: IndexCatalog.Manifest): Sq8Codec =
    Sq8Codec(mf.floats("mins"), mf.floats("widths"))
}

/** Product quantization: `m` subspaces of `ks` centroids; `packed`
  * stores the 4-bit codes two per byte (the fast_scan layout analog,
  * crates/quantization/src/fast_scan/), which needs ks <= 16. */
final case class PqQuant(m: Int = 8, ks: Int = 16, packed: Boolean = false)
    extends ListQuant[PqCodec](if (packed) "pq4" else "pq", "codes", 8) {
  require(!packed || ks <= 16, s"4-bit codes need ks<=16, got $ks")
  def requires: Map[String, String] = Map("m" -> m.toString, "ks" -> ks.toString)
  def train(rows: DataFrame, vecCol: String, seed: Long): PqCodec =
    PqCodec(Pq.train(rows, vecCol, m, ks, seed = seed), packed)
  def load(mf: IndexCatalog.Manifest): PqCodec =
    PqCodec(Pq.Model(mf.params("dims").toInt, mf.params("m").toInt,
      mf.params("ks").toInt, mf.floats("codebook")), packed)
}

/** RaBitQ: a seeded rotation about the corpus centroid. */
case object RabitqQuant extends Quant[RabitqCodec]("rabitq", "code", 8) {
  def requires: Map[String, String] = Map.empty
  def train(rows: DataFrame, vecCol: String, seed: Long): RabitqCodec =
    RabitqCodec(Rabitq.train(rows, vecCol, seed))
  def load(mf: IndexCatalog.Manifest): RabitqCodec =
    RabitqCodec(Rabitq.Model(mf.params("dims").toInt,
      mf.floats("centroid"), mf.floats("rot")))
}

/** A trained quantizer: what the manifest persists, and both of its
  * encode/score forms — the graph side (a raw graph snapshot becomes
  * codes, a query becomes a [[CodedHnsw.Probe]]) and the column side
  * (the kernel Expressions of [[Sq8]], [[Pq]] and [[Rabitq]]). */
sealed trait Codec extends Serializable {
  def quant: Quant[Codec]
  /** Manifest params: the family's `requires` plus what training derived. */
  def params: Map[String, String]
  def floats: Map[String, Array[Float]]
  def encode(g: Hnsw.FlatGraph): CodedHnsw.CodedGraph
  def probe(q: Array[Float]): CodedHnsw.Probe
  /** The code column of a vector column. */
  def encode(v: Column): Column
  /** Approximate l2² from each row's code to `q`. */
  def score(codes: Column, q: Array[Float]): Column
}

/** A codec whose per-query state is one float array, so an IVF scan can
  * score every probed list against its own residual query, read from a
  * broadcast column. RaBitQ's scorer also needs the query norm as a
  * constant, so it is not one. */
sealed trait ListCodec extends Codec {
  /** The scorer's per-query input: SQ8 the query, PQ its ADC table. */
  def operand(q: Array[Float]): Array[Float]
  def score(codes: Column, operand: Column): Column
  final def score(codes: Column, q: Array[Float]): Column =
    score(codes, typedLit(operand(q)))
}

final case class Sq8Codec(mins: Array[Float], widths: Array[Float])
    extends ListCodec {
  def quant: Quant[Codec] = Sq8Quant
  def params: Map[String, String] = Sq8Quant.requires
  def floats: Map[String, Array[Float]] =
    Map("mins" -> mins, "widths" -> widths)

  def encode(g: Hnsw.FlatGraph): CodedHnsw.CodedGraph = {
    val codes = new Array[Byte](g.ids.length * g.dims)
    var i = 0
    while (i < codes.length) {
      val d = i % g.dims
      val x = (g.vecs(i) - mins(d)) / widths(d)
      codes(i) = math.round(math.max(0.0f, math.min(1.0f, x)) * 255.0f).toByte
      i += 1
    }
    CodedHnsw.CodedGraph.fromFlat(g, g.dims, codes, null, null)
  }

  /** lut(i*256+c) = (decode(i,c) - q_i)² with the same float decode as
    * Sq8.l2Kernel — every distance eval is then dims table adds with
    * no decode arithmetic. */
  def probe(q: Array[Float]): CodedHnsw.Probe = {
    val dims = mins.length
    val lut = new Array[Double](dims * 256)
    var i = 0
    while (i < dims) {
      val mn = mins(i); val w = widths(i); val qi = q(i).toDouble
      var c = 0
      while (c < 256) {
        val dec = mn + (c / 255.0f) * w
        val dd = dec.toDouble - qi
        lut(i * 256 + c) = dd * dd
        c += 1
      }
      i += 1
    }
    new CodedHnsw.Probe(lut, 256)
  }

  def encode(v: Column): Column =
    Shims.column(Sq8.Encode(Shims.expression(v),
      Shims.expression(typedLit(mins)), Shims.expression(typedLit(widths))))
  def operand(q: Array[Float]): Array[Float] = q
  def score(codes: Column, operand: Column): Column =
    Shims.column(Sq8.L2Approx(Shims.expression(codes),
      Shims.expression(operand), Shims.expression(typedLit(mins)),
      Shims.expression(typedLit(widths))))
}

/** `packed` selects the 4-bit column layout; coded graphs always store
  * one byte per subspace. */
final case class PqCodec(model: Pq.Model, packed: Boolean = false)
    extends ListCodec {
  def quant: Quant[Codec] = PqQuant(model.m, model.ks, packed)
  def params: Map[String, String] =
    quant.requires + ("dims" -> model.dims.toString)
  def floats: Map[String, Array[Float]] = Map("codebook" -> model.codebook)

  /** Plain-Scala PQ encoder (the executor-side snapshot path — the
    * column form below serves table builds). */
  def encode(g: Hnsw.FlatGraph): CodedHnsw.CodedGraph = {
    val subDim = model.subDim
    val codes = new Array[Byte](g.ids.length * model.m)
    var node = 0
    while (node < g.ids.length) {
      val off = node * g.dims
      var s = 0
      while (s < model.m) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < model.ks) {
          var d = 0.0; var i = 0
          val cb = (s * model.ks + c) * subDim
          while (i < subDim) {
            val diff = g.vecs(off + s * subDim + i).toDouble - model.codebook(cb + i)
            d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        codes(node * model.m + s) = best.toByte
        s += 1
      }
      node += 1
    }
    CodedHnsw.CodedGraph.fromFlat(g, model.m, codes, null, null)
  }

  def probe(q: Array[Float]): CodedHnsw.Probe =
    new CodedHnsw.Probe(model.lut(q).map(_.toDouble), model.ks)

  def encode(v: Column): Column = {
    val cb = Shims.expression(typedLit(model.codebook))
    Shims.column(
      if (packed) Pq.EncodePacked(Shims.expression(v), cb, model.m, model.ks)
      else Pq.Encode(Shims.expression(v), cb, model.m, model.ks))
  }
  def operand(q: Array[Float]): Array[Float] = model.lut(q)
  def score(codes: Column, operand: Column): Column = Shims.column(
    if (packed) Pq.AdcPackedScore(Shims.expression(codes),
      Shims.expression(operand), model.ks, model.m)
    else Pq.AdcScore(Shims.expression(codes), Shims.expression(operand),
      model.ks))
}

final case class RabitqCodec(model: Rabitq.Model) extends Codec {
  def quant: Quant[Codec] = RabitqQuant
  def params: Map[String, String] = Map("dims" -> model.dims.toString)
  def floats: Map[String, Array[Float]] =
    Map("centroid" -> model.centroid, "rot" -> model.rot)

  /** Sign bits of the rotated residual + (norm, cos) corrections —
    * [[Rabitq.encodeKernel]] semantics over the flat vector matrix. */
  def encode(g: Hnsw.FlatGraph): CodedHnsw.CodedGraph = {
    val n = g.ids.length
    val dims = g.dims
    val bpr = (dims + 7) / 8
    val bits = new Array[Byte](n * bpr)
    val norms = new Array[Float](n)
    val cosvs = new Array[Float](n)
    val r = new Array[Double](dims)
    var node = 0
    while (node < n) {
      val off = node * dims
      var norm2 = 0.0
      var i = 0
      while (i < dims) {
        r(i) = g.vecs(off + i).toDouble - model.centroid(i)
        norm2 += r(i) * r(i); i += 1
      }
      var dotSign = 0.0
      var row = 0
      while (row < dims) {
        var acc = 0.0; var j = 0; val ro = row * dims
        while (j < dims) { acc += model.rot(ro + j).toDouble * r(j); j += 1 }
        if (acc >= 0) {
          bits(node * bpr + (row >> 3)) =
            (bits(node * bpr + (row >> 3)) | (1 << (row & 7))).toByte
          dotSign += acc
        } else dotSign -= acc
        row += 1
      }
      val norm = math.sqrt(norm2)
      norms(node) = norm.toFloat
      cosvs(node) =
        (if (norm == 0.0) 1.0 else dotSign / (norm * math.sqrt(dims.toDouble))).toFloat
      node += 1
    }
    CodedHnsw.CodedGraph.fromFlat(g, dims, bits, norms, cosvs)
  }

  /** Byte LUT over the rotated query: lut(b*256 + byte) =
    * Σ_{j<8} (bit_j ? +rq(8b+j) : -rq(8b+j)) — the sign-bit dot product
    * becomes D/8 table adds. */
  def probe(q: Array[Float]): CodedHnsw.Probe = {
    val dims = model.dims
    val rq = model.rotate(q)
    val qNorm = math.sqrt(rq.map(x => x * x).sum)
    val bpr = (dims + 7) / 8
    val lut = new Array[Double](bpr * 256)
    var b = 0
    while (b < bpr) {
      var v = 0
      while (v < 256) {
        var acc = 0.0; var j = 0
        while (j < 8) {
          val dim = b * 8 + j
          if (dim < dims) {
            val s = if (((v >>> j) & 1) == 1) 1.0 else -1.0
            acc += s * rq(dim)
          }
          j += 1
        }
        lut(b * 256 + v) = acc
        v += 1
      }
      b += 1
    }
    new CodedHnsw.Probe(lut, 256, qNorm, math.sqrt(dims.toDouble) * qNorm)
  }

  def encode(v: Column): Column =
    Shims.column(Rabitq.Encode(Shims.expression(v),
      Shims.expression(typedLit(model.centroid)),
      Shims.expression(typedLit(model.rot))))
  def score(codes: Column, q: Array[Float]): Column = {
    val rq = model.rotate(q)
    val qNorm = math.sqrt(rq.map(x => x * x).sum)
    Shims.column(Rabitq.Score(Shims.expression(codes),
      Shims.expression(typedLit(rq.map(_.toFloat))), qNorm))
  }
}

object RabitqCodec {
  /** The RaBitQ distance estimate from the sign-bit dot product
    * ([[Rabitq.scoreKernel]] semantics). */
  @inline private[operators] def estimate(dot: Double, norm: Double,
      cos: Double, p: CodedHnsw.Probe): Double = {
    val qNorm = p.qNorm
    if (norm == 0.0 || qNorm == 0.0) return norm * norm + qNorm * qNorm
    val c = math.max(cos, 1e-9)
    val est = dot / p.scale / c
    norm * norm + qNorm * qNorm - 2.0 * norm * qNorm * est
  }
}

package graft.expr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

/**
 * Native Catalyst expression for cosine similarity over two
 * `array<float|double>` columns, with whole-stage codegen.
 *
 * The `zip_with`/`aggregate` higher-order formulation in
 * `VectorMath.cosine` is evaluated interpreted (lambda dispatch per
 * element); this expression compiles to a tight primitive loop inside
 * the generated code — the hot path for ANN scans and embedding dedup
 * verification, where it runs dim× per row over the whole corpus.
 *
 * Semantics match `VectorMath.cosine`: zero-norm input → 0.0; arrays
 * of different lengths → compared over the common prefix (callers
 * validate dims); null input → null.
 */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float|double> inputs, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.cosine(l.asInstanceOf[ArrayData], leftIsFloat,
      r.asInstanceOf[ArrayData], rightIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.CosineSimilarity$$.MODULE$$.cosine(" +
        s"$a, $leftIsFloat, $b, $rightIsFloat);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object CosineSimilarity {

  /** The cosine loop behind the expression (interpreted and generated
    * code alike) and SemDeDup's driver-side pair loop: sequential
    * dot/norm accumulation in double over the common prefix, zero
    * norm → 0.0. The element-type flags are loop-invariant, so the JIT
    * hoists them out of the loop. */
  def cosine(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }
}

/**
 * `max_cosine_sim(vec, matrix_bytes)` — the maximum cosine similarity
 * of one vector against a LITERAL matrix of reference vectors (an
 * eval-benchmark embedding set, a centroid table), as one native
 * codegen'd expression.
 *
 * Why not `array_max(transform(matrix_lit, m -> cosine_sim(vec, m)))`:
 * a higher-order lambda re-evaluates its BODY per element, and `vec`
 * is part of the body — when the vector is a computed expression (a
 * projection the optimizer collapsed in), it recomputes once per
 * matrix ROW (measured as the whole driver of a multi-minute
 * interpreted stage at 487 reference vectors). An ordinary expression
 * evaluates each child ONCE; the matrix loop runs in Java. The matrix
 * rides the plan as one binary literal (the [[BloomMightContain]]
 * discipline). Cosine semantics match [[CosineSimilarity]] over the
 * common prefix; an empty matrix yields null; null vector → null.
 */
case class MaxCosineSim(child: Expression, matrixBytes: Array[Byte])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"max_cosine_sim expects an array<float|double> vector, got ${t.sql}")
    }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** rows(r) stored with a PRECOMPUTED inverse norm in slot 0. */
  @transient private lazy val rows: Array[Array[Double]] =
    MaxCosineSim.deserialize(matrixBytes)

  def score(arr: ArrayData): java.lang.Double = {
    if (rows.isEmpty) return null
    val n = arr.numElements()
    var best = Double.NegativeInfinity
    var r = 0
    while (r < rows.length) {
      val row = rows(r) // row(0) = 1/||m|| (0.0 for a zero row), data from 1
      val m = math.min(n, row.length - 1)
      var dot = 0.0; var nv = 0.0
      var i = 0
      while (i < m) {
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        dot += x * row(i + 1); nv += x * x
        i += 1
      }
      // equal-dim contract (callers validate dims, as with cosine_sim);
      // the reference inverse norm is precomputed over the full vector
      val c = if (nv == 0.0 || row(0) == 0.0) 0.0 else dot / math.sqrt(nv) * row(0)
      if (c > best) best = c
      r += 1
    }
    java.lang.Double.valueOf(best)
  }

  override protected def nullSafeEval(input: Any): Any = score(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mcs", this, classOf[MaxCosineSim].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r = $ref.score($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "max_cosine_sim"

  private def bytesHash: Int = UnigramPerplexity.contentHash(matrixBytes)

  override def equals(other: Any): Boolean = other match {
    case p: MaxCosineSim =>
      child == p.child &&
        ((matrixBytes eq p.matrixBytes) ||
          (bytesHash == p.bytesHash && java.util.Arrays.equals(matrixBytes, p.matrixBytes)))
    case _ => false
  }

  override def hashCode(): Int = 31 * child.hashCode() + bytesHash
}

object MaxCosineSim {
  /** Serialize reference vectors; norms are precomputed at build time
    * so per-row work is one dot product per reference vector. */
  def serialize(vectors: Seq[Seq[Float]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(vectors.length)
    vectors.foreach { v =>
      out.writeInt(v.length)
      var norm = 0.0
      v.foreach { x => norm += x.toDouble * x.toDouble }
      out.writeDouble(if (norm == 0.0) 0.0 else 1.0 / math.sqrt(norm))
      v.foreach(x => out.writeDouble(x.toDouble))
    }
    out.flush()
    bos.toByteArray
  }

  private[expr] def deserialize(bytes: Array[Byte]): Array[Array[Double]] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    Array.fill(n) {
      val len = in.readInt()
      val row = new Array[Double](len + 1)
      row(0) = in.readDouble()
      var i = 0
      while (i < len) { row(i + 1) = in.readDouble(); i += 1 }
      row
    }
  }
}

/**
 * Registration of graft's native expressions.
 *
 * Two routes, same builders:
 *  - `GraftFunctions.ensure(spark)` — imperative per-session
 *    registration used by the operator library itself;
 *  - `GraftExtensions` — a `SparkSessionExtensions` injector for
 *    `spark.sql.extensions=graft.expr.GraftExtensions`, the standard
 *    deployment route on a shared cluster.
 */
object GraftFunctions {
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"cosine_sim expects 2 arguments, got ${children.length}")
        CosineSimilarity(children(0), children(1))
      }),
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"simhash64 expects 1 argument, got ${children.length}")
        SimHash64(children(0))
      }),
    ("minhash_sig",
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"minhash_sig expects 2 arguments, got ${children.length}")
        val k = children(1) match {
          case e if e.foldable && e.dataType == IntegerType =>
            e.eval().asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"minhash_sig: k must be an integer literal, got $other")
        }
        MinHashSignature(children(0), k)
      }),
    ("word_shingles",
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"word_shingles expects 2 arguments, got ${children.length}")
        val n = children(1) match {
          case e if e.foldable && e.dataType == IntegerType => e.eval().asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"word_shingles: n must be an integer literal, got $other")
        }
        WordShingles(children(0), n)
      }),
    ("top_k_rows",
      new ExpressionInfo(classOf[TopKRows].getName, "top_k_rows"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"top_k_rows expects 2 arguments, got ${children.length}")
        val k = children(1) match {
          case e if e.foldable && e.dataType == IntegerType => e.eval().asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"top_k_rows: k must be an integer literal, got $other")
        }
        TopKRows(children(0), k)
      }),
    ("vector_sum",
      new ExpressionInfo(classOf[VectorSum].getName, "vector_sum"),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"vector_sum expects 1 argument, got ${children.length}")
        VectorSum(children(0))
      }),
    ("mat_vec_mul",
      new ExpressionInfo(classOf[MatVecMul].getName, "mat_vec_mul"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"mat_vec_mul expects 2 arguments, got ${children.length}")
        val bytes = children(1) match {
          case e if e.foldable && e.dataType == BinaryType =>
            e.eval().asInstanceOf[Array[Byte]]
          case other => throw new IllegalArgumentException(
            s"mat_vec_mul: matrix must be a binary literal, got $other")
        }
        MatVecMul(children(0), bytes)
      }),
    ("kll_sketch_agg",
      new ExpressionInfo(classOf[KllSketchAgg].getName, "kll_sketch_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 1 || children.length == 2,
          s"kll_sketch_agg expects 1-2 arguments, got ${children.length}")
        val k =
          if (children.length == 1) 200
          else children(1) match {
            case e if e.foldable && e.dataType == IntegerType => e.eval().asInstanceOf[Int]
            case other => throw new IllegalArgumentException(
              s"kll_sketch_agg: k must be an integer literal, got $other")
          }
        KllSketchAgg(children(0), k)
      }),
    ("kll_merge_agg",
      new ExpressionInfo(classOf[KllMergeAgg].getName, "kll_merge_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"kll_merge_agg expects 1 argument, got ${children.length}")
        KllMergeAgg(children(0))
      }),
    ("kll_quantile",
      new ExpressionInfo(classOf[KllQuantile].getName, "kll_quantile"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"kll_quantile expects 2 arguments, got ${children.length}")
        KllQuantile(children(0), children(1))
      }),
    ("approx_top_items",
      new ExpressionInfo(classOf[ApproxTopItems].getName, "approx_top_items"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"approx_top_items expects 3 arguments, got ${children.length}")
        def intLit(e: Expression, what: String): Int = e match {
          case l if l.foldable && l.dataType == IntegerType => l.eval().asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"approx_top_items: $what must be an integer literal, got $other")
        }
        ApproxTopItems(children(0), intLit(children(1), "k"), intLit(children(2), "capacity"))
      }),
    ("normalize_text",
      new ExpressionInfo(classOf[NormalizeText].getName, "normalize_text"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"normalize_text expects 2 arguments, got ${children.length}")
        val form = children(1) match {
          case e if e.foldable && e.dataType == StringType =>
            // eval can be null for a foldable CAST(NULL AS STRING)
            Option(e.eval()).map(_.toString).getOrElse(
              throw new IllegalArgumentException(
                "normalize_text: form must be a non-null string literal"))
          case other => throw new IllegalArgumentException(
            s"normalize_text: form must be a string literal, got $other")
        }
        NormalizeText(children(0), form)
      }),
    ("unigram_ppl",
      new ExpressionInfo(classOf[UnigramPerplexity].getName, "unigram_ppl"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"unigram_ppl expects 3 arguments, got ${children.length}")
        val bytes = children(1) match {
          case e if e.foldable && e.dataType == BinaryType =>
            Option(e.eval()).map(_.asInstanceOf[Array[Byte]]).getOrElse(
              throw new IllegalArgumentException(
                "unigram_ppl: model must be a non-null binary literal"))
          case other => throw new IllegalArgumentException(
            s"unigram_ppl: model must be a binary literal, got $other")
        }
        val oov = children(2) match {
          case e if e.foldable && e.dataType == DoubleType =>
            e.eval().asInstanceOf[Double]
          case other => throw new IllegalArgumentException(
            s"unigram_ppl: oov log-prob must be a double literal, got $other")
        }
        UnigramPerplexity(children(0), bytes, oov)
      }),
    ("bigram_ppl",
      new ExpressionInfo(classOf[BigramPerplexity].getName, "bigram_ppl"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          s"bigram_ppl expects 5 arguments, got ${children.length}")
        def bin(e: Expression, what: String): Array[Byte] = e match {
          case x if x.foldable && x.dataType == BinaryType =>
            Option(x.eval()).map(_.asInstanceOf[Array[Byte]]).getOrElse(
              throw new IllegalArgumentException(
                s"bigram_ppl: $what must be a non-null binary literal"))
          case other => throw new IllegalArgumentException(
            s"bigram_ppl: $what must be a binary literal, got $other")
        }
        def dbl(e: Expression, what: String): Double = e match {
          case x if x.foldable && x.dataType == DoubleType =>
            x.eval().asInstanceOf[Double]
          case other => throw new IllegalArgumentException(
            s"bigram_ppl: $what must be a double literal, got $other")
        }
        BigramPerplexity(children(0), bin(children(1), "bigram model"),
          bin(children(2), "unigram model"), dbl(children(3), "log alpha"),
          dbl(children(4), "oov log-prob"))
      }),
    ("deflate_ratio",
      new ExpressionInfo(classOf[DeflateRatio].getName, "deflate_ratio"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"deflate_ratio expects 1 argument, got ${children.length}")
        DeflateRatio(children(0))
      }),
    ("canonicalize_url",
      new ExpressionInfo(classOf[CanonicalizeUrl].getName, "canonicalize_url"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"canonicalize_url expects 1 argument, got ${children.length}")
        CanonicalizeUrl(children(0))
      }),
    ("pq_encode",
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"pq_encode expects 2 arguments, got ${children.length}")
        val bytes = children(1) match {
          case e if e.foldable && e.dataType == BinaryType =>
            Option(e.eval()).map(_.asInstanceOf[Array[Byte]]).getOrElse(
              throw new IllegalArgumentException(
                "pq_encode: codebooks must be a non-null binary literal"))
          case other => throw new IllegalArgumentException(
            s"pq_encode: codebooks must be a binary literal, got $other")
        }
        PqEncode(children(0), bytes)
      }),
    ("pq_adc_cosine",
      new ExpressionInfo(classOf[PqAdcCosine].getName, "pq_adc_cosine"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          s"pq_adc_cosine expects 4 arguments, got ${children.length}")
        PqAdcCosine(children(0), children(1), children(2), children(3))
      }),
    ("token_window_hashes",
      new ExpressionInfo(classOf[TokenWindowHashes].getName, "token_window_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"token_window_hashes expects 2 arguments, got ${children.length}")
        val w = children(1) match {
          case e if e.foldable && e.dataType == IntegerType =>
            e.eval().asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"token_window_hashes: window size must be an integer literal, got $other")
        }
        TokenWindowHashes(children(0), w)
      }),
    ("max_cosine_sim",
      new ExpressionInfo(classOf[MaxCosineSim].getName, "max_cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"max_cosine_sim expects 2 arguments, got ${children.length}")
        val bytes = children(1) match {
          case e if e.foldable && e.dataType == BinaryType =>
            Option(e.eval()).map(_.asInstanceOf[Array[Byte]]).getOrElse(
              throw new IllegalArgumentException(
                "max_cosine_sim: matrix must be a non-null binary literal"))
          case other => throw new IllegalArgumentException(
            s"max_cosine_sim: matrix must be a binary literal, got $other")
        }
        MaxCosineSim(children(0), bytes)
      }),
    ("bpe_encode",
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"bpe_encode expects 2 arguments, got ${children.length}")
        val bytes = children(1) match {
          case e if e.foldable && e.dataType == BinaryType =>
            Option(e.eval()).map(_.asInstanceOf[Array[Byte]]).getOrElse(
              throw new IllegalArgumentException(
                "bpe_encode: merges must be a non-null binary literal"))
          case other => throw new IllegalArgumentException(
            s"bpe_encode: merges must be a binary literal, got $other")
        }
        BpeEncode(children(0), bytes)
      }),
    ("bloom_might_contain",
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"bloom_might_contain expects 2 arguments, got ${children.length}")
        val bytes = children(1) match {
          case e if e.foldable && e.dataType == BinaryType =>
            Option(e.eval()).map(_.asInstanceOf[Array[Byte]]).getOrElse(
              throw new IllegalArgumentException(
                "bloom_might_contain: filter bytes must be a non-null binary literal"))
          case other => throw new IllegalArgumentException(
            s"bloom_might_contain: filter must be a binary literal, got $other")
        }
        BloomMightContain(children(0), bytes)
      }),
    ("lsh_buckets",
      new ExpressionInfo(classOf[LshBuckets].getName, "lsh_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 3, s"lsh_buckets expects 3 arguments, got ${children.length}")
        val planes = children(1) match {
          case e if e.foldable =>
            val outer = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            Array.tabulate(outer.numElements())(i => outer.getArray(i).toDoubleArray())
          case other => throw new IllegalArgumentException(
            s"lsh_buckets: planes must be a literal matrix, got $other")
        }
        val bits = children(2) match {
          case e if e.foldable && e.dataType == IntegerType => e.eval().asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"lsh_buckets: bits must be an integer literal, got $other")
        }
        LshBuckets(children(0), planes, bits)
      }),
    ("sniff_charset",
      new ExpressionInfo(classOf[SniffCharset].getName, "sniff_charset"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"sniff_charset expects 2 arguments, got ${children.length}")
        SniffCharset(children(0), children(1))
      }),
    ("decode_charset",
      new ExpressionInfo(classOf[DecodeCharset].getName, "decode_charset"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"decode_charset expects 2 arguments, got ${children.length}")
        DecodeCharset(children(0), children(1))
      }),
    ("sniff_mime",
      new ExpressionInfo(classOf[SniffMime].getName, "sniff_mime"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"sniff_mime expects 1 argument, got ${children.length}")
        SniffMime(children(0))
      }),
    ("robots_compile",
      new ExpressionInfo(classOf[RobotsCompile].getName, "robots_compile"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"robots_compile expects 2 arguments, got ${children.length}")
        RobotsCompile(children(0), children(1))
      }),
    ("robots_allowed",
      new ExpressionInfo(classOf[RobotsAllowed].getName, "robots_allowed"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"robots_allowed expects 2 arguments, got ${children.length}")
        RobotsAllowed(children(0), children(1))
      }),
    ("nearest_centroid",
      new ExpressionInfo(classOf[NearestCentroid].getName, "nearest_centroid"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"nearest_centroid expects 2 arguments, got ${children.length}")
        val bytes = children(1) match {
          case l if l.foldable && l.dataType == BinaryType =>
            l.eval().asInstanceOf[Array[Byte]]
          case other => throw new IllegalArgumentException(
            s"nearest_centroid: centroid matrix must be a binary literal, got $other")
        }
        NearestCentroid(children(0), bytes)
      }),
    ("mih_pairs",
      new ExpressionInfo(classOf[MihPairs].getName, "mih_pairs"),
      (children: Seq[Expression]) => {
        require(children.length == 6,
          s"mih_pairs expects 6 arguments, got ${children.length}")
        def intLit(e: Expression, name: String): Int = e match {
          case l if l.foldable && l.dataType == IntegerType => l.eval().asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"mih_pairs: $name must be an integer literal, got $other")
        }
        MihPairs(children(0), children(1), children(2),
          intLit(children(3), "maxHamming"), intLit(children(4), "radius"),
          intLit(children(5), "nBlocks"))
      }),
    ("mih_cross_pairs",
      new ExpressionInfo(classOf[MihPairs].getName, "mih_cross_pairs"),
      (children: Seq[Expression]) => {
        require(children.length == 6,
          s"mih_cross_pairs expects 6 arguments, got ${children.length}")
        def intLit(e: Expression, name: String): Int = e match {
          case l if l.foldable && l.dataType == IntegerType => l.eval().asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"mih_cross_pairs: $name must be an integer literal, got $other")
        }
        MihPairs(children(0), children(1), children(2),
          intLit(children(3), "maxHamming"), intLit(children(4), "radius"),
          intLit(children(5), "nBlocks"), cross = true)
      }),
    ("bounded_min_k",
      new ExpressionInfo(classOf[BoundedMinK].getName, "bounded_min_k"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"bounded_min_k expects 2 arguments, got ${children.length}")
        val k = children(1) match {
          case e if e.foldable && e.dataType == IntegerType => e.eval().asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"bounded_min_k: k must be an integer literal, got $other")
        }
        BoundedMinK(children(0), k)
      }))

  /** Idempotent per-session registration. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, _, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Column API over the registered functions (call `ensure` first or
    * deploy `GraftExtensions`). */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)
  def minhashSig(shingles: Column, k: Int): Column =
    call_function("minhash_sig", shingles, org.apache.spark.sql.functions.lit(k))
  def wordShingles(tokens: Column, n: Int): Column =
    call_function("word_shingles", tokens, org.apache.spark.sql.functions.lit(n))
  def topKRows(scored: Column, k: Int): Column =
    call_function("top_k_rows", scored, org.apache.spark.sql.functions.lit(k))
  def boundedMinK(member: Column, k: Int): Column =
    call_function("bounded_min_k", member, org.apache.spark.sql.functions.lit(k))
  def approxTopItems(item: Column, k: Int, capacity: Int): Column =
    call_function("approx_top_items", item,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(capacity))
  def matVecMul(vec: Column, matrixBytes: Array[Byte]): Column =
    call_function("mat_vec_mul", vec,
      org.apache.spark.sql.functions.lit(matrixBytes))
  def kllSketchAgg(value: Column, k: Int = 200): Column =
    call_function("kll_sketch_agg", value, org.apache.spark.sql.functions.lit(k))
  def kllMergeAgg(sketch: Column): Column = call_function("kll_merge_agg", sketch)
  def kllQuantile(sketch: Column, p: Double): Column =
    call_function("kll_quantile", sketch, org.apache.spark.sql.functions.lit(p))
  def vectorSum(vec: Column): Column = call_function("vector_sum", vec)
  def normalizeText(text: Column, form: String = "NFC"): Column =
    call_function("normalize_text", text, org.apache.spark.sql.functions.lit(form))
  def canonicalizeUrl(url: Column): Column =
    call_function("canonicalize_url", url)
  def pqEncode(vec: Column, codebookBytes: Array[Byte]): Column =
    call_function("pq_encode", vec,
      org.apache.spark.sql.functions.lit(codebookBytes))
  def pqAdcCosine(codes: Column, dotT: Column, nrmT: Column, qNorm: Column): Column =
    call_function("pq_adc_cosine", codes, dotT, nrmT, qNorm)
  def lshBuckets(vec: Column, planes: Seq[Seq[Double]], bits: Int): Column =
    call_function("lsh_buckets", vec,
      org.apache.spark.sql.functions.typedlit(planes),
      org.apache.spark.sql.functions.lit(bits))
  def bloomMightContain(hash: Column, filterBytes: Array[Byte]): Column =
    call_function("bloom_might_contain", hash,
      org.apache.spark.sql.functions.lit(filterBytes))
  def unigramPpl(tokens: Column, modelBytes: Array[Byte], oovLogProb: Double): Column =
    call_function("unigram_ppl", tokens,
      org.apache.spark.sql.functions.lit(modelBytes),
      org.apache.spark.sql.functions.lit(oovLogProb))
  def deflateRatio(text: Column): Column = call_function("deflate_ratio", text)
  def tokenWindowHashes(tokens: Column, windowSize: Int): Column =
    call_function("token_window_hashes", tokens,
      org.apache.spark.sql.functions.lit(windowSize))
  def nearestCentroid(vec: Column, matrixBytes: Array[Byte]): Column =
    call_function("nearest_centroid", vec,
      org.apache.spark.sql.functions.lit(matrixBytes))
  def mihPairs(anchors: Column, probes: Column, blk: Column,
               maxHamming: Int, radius: Int, nBlocks: Int): Column =
    call_function("mih_pairs", anchors, probes, blk,
      org.apache.spark.sql.functions.lit(maxHamming),
      org.apache.spark.sql.functions.lit(radius),
      org.apache.spark.sql.functions.lit(nBlocks))
  def mihCrossPairs(membersA: Column, membersB: Column, blk: Column,
                    maxHamming: Int, radius: Int, nBlocks: Int): Column =
    call_function("mih_cross_pairs", membersA, membersB, blk,
      org.apache.spark.sql.functions.lit(maxHamming),
      org.apache.spark.sql.functions.lit(radius),
      org.apache.spark.sql.functions.lit(nBlocks))
  def maxCosineSim(vec: Column, vectors: Seq[Seq[Float]]): Column =
    call_function("max_cosine_sim", vec,
      org.apache.spark.sql.functions.lit(MaxCosineSim.serialize(vectors)))
  def bpeEncode(tokens: Column, mergesBytes: Array[Byte]): Column =
    call_function("bpe_encode", tokens,
      org.apache.spark.sql.functions.lit(mergesBytes))
  /** Charset label for a crawl payload; `httpCt` may be null/absent —
    * it is coalesced to '' (no transport hint). */
  def sniffCharset(payload: Column, httpCt: Column): Column =
    call_function("sniff_charset", payload,
      org.apache.spark.sql.functions.coalesce(
        httpCt, org.apache.spark.sql.functions.lit("")))
  /** Detect + decode a crawl payload to text (BOM-stripped, U+FFFD
    * replacement — never throws on a bad row). */
  def decodeCharset(payload: Column, httpCt: Column): Column =
    call_function("decode_charset", payload,
      org.apache.spark.sql.functions.coalesce(
        httpCt, org.apache.spark.sql.functions.lit("")))
  def sniffMime(payload: Column): Column = call_function("sniff_mime", payload)
  def robotsCompile(txt: Column, agent: String): Column =
    call_function("robots_compile", txt, org.apache.spark.sql.functions.lit(agent))
  def robotsAllowed(path: Column, compiled: Column): Column =
    call_function("robots_allowed", path, compiled)
  def bigramPpl(tokens: Column, bigramBytes: Array[Byte], unigramBytes: Array[Byte],
                logAlpha: Double, oovLogProb: Double): Column =
    call_function("bigram_ppl", tokens,
      org.apache.spark.sql.functions.lit(bigramBytes),
      org.apache.spark.sql.functions.lit(unigramBytes),
      org.apache.spark.sql.functions.lit(logAlpha),
      org.apache.spark.sql.functions.lit(oovLogProb))
}

/** `spark.sql.extensions` entry point injecting graft's expressions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

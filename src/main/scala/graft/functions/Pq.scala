package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType,
  StringType, StructField, StructType}

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", PAMI 2011 — public method) over an
  * embedding column: d dims split into `m` sub-blocks, each block
  * vector-quantized against its own `k`-entry codebook (default 256 —
  * 8 bits/block, the standard PQ code width), so a vector
  * compresses to m small codes (m bytes at k ≤ 256) and asymmetric
  * distances (ADC) evaluate from per-query lookup tables without
  * decompressing.
  *
  * Spark-first decomposition:
  *   - TRAIN driver-side on a bounded hash-spread sample (the Ivf.seeds
  *     discipline): per block, farthest-point picks + a few Lloyd
  *     rounds over the sample — deterministic, Θ(sample·k·m·sub) flops,
  *     the DATA never lands on the driver beyond the sample;
  *   - ENCODE distributed: explode each row into its m blocks
  *     (slice — no payload duplication beyond the block), broadcast-join
  *     the m·k codebook rows, rank with the bounded ap_topm aggregate
  *     (dist ASC, code ASC — deterministic), re-assemble the code array
  *     with one keyed aggregate. Both aggregates hash by vec_id, so the
  *     encode pays one exchange;
  *   - ADC distributed, two forms:
  *       - [[adcTopk]], EXHAUSTIVE and relational — the oracle: the
  *         per-query lookup table (q × m·k block distances) is a
  *         DataFrame, baseBlocks ⋈ lut on (block, code) yields exactly
  *         |q|·|base|·m rows, summed per pair in block order and ranked
  *         with ap_topm;
  *       - [[ivfAdcTopk]], the production path (the faiss IVFADC
  *         layering): Catalyst builds the probing queries' cells and the
  *         IVF cell members with their codes, and [[AdcScan]] scores
  *         them in one cell-keyed pass over primitive arrays — each
  *         lookup table a task-local m×k array, never a relation, and
  *         each `adc` bit-identical to the exhaustive form's. */
object Pq {

  /** codebooks(b)(c) = centroid c of block b, length `sub`. */
  final case class Model(m: Int, k: Int, sub: Int,
      codebooks: Array[Array[Array[Double]]])

  /** THE engine-normalized (vec_id, v) projection — one definition for
    * the ten call sites that each hand-rolled it (round-13 review). */
  private def normalize(vecs: DataFrame, vecCol: String,
      idCol: String): DataFrame =
    vecs.select(col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol), _.cast("double")).as("v"))

  /** Model-dimension + null-element guard riding the vector expression
    * (prune-proof — the guard IS the value every consumer reads). A
    * too-SHORT vector fails in vec_sqdist's own ragged check, but a
    * too-LONG one would silently encode its first m·sub dims (slice
    * clips), and a null element reads as 0.0 inside vec_sqdist's
    * ArrayData walk — both silent-garbage paths (round-13 review). */
  private def guardedVec(vcol: Column, model: Model, id: Column): Column =
    when(
      assert_true(
        size(vcol) === lit(model.m * model.sub) && !exists(vcol, e => e.isNull),
        concat(lit("Pq: vector size "), size(vcol).cast("string"),
          lit(" != model dims "), lit(model.m * model.sub),
          lit(", or null element, for id "),
          coalesce(id.cast("string"), lit("?")))).isNull,
      vcol)

  /** A search's id list (`queryIds` or `allowedIds`, named `param`)
    * as one long `vec_id` column. Exactly ONE column (a silent
    * columns.head pick on a wider frame would run a wrong workload),
    * and every id must CAST to long — a cast-to-null id would match
    * nothing and return an empty result with no error (round-13
    * review). Duplicates need no distinct: the lists only semi-join
    * ([[Workload]]). */
  private def idList(param: String, ids: DataFrame): DataFrame = {
    require(ids.columns.length == 1,
      s"ivfAdcTopk: $param must be a single id column, got (${ids.columns.mkString(", ")})")
    val c = col(ids.columns.head)
    ids.select(
      when(assert_true(c.cast("long").isNotNull,
        concat(lit(s"ivfAdcTopk: $param value does not cast to long: "),
          coalesce(c.cast("string"), lit("null")))).isNull,
        c.cast("long")).as("vec_id"))
  }

  /** Train per-block codebooks on a bounded sample. `d` must divide
    * into `m` equal blocks. Deterministic: hash-spread sample,
    * farthest-point init (smallest-id start), fixed Lloyd rounds with
    * empty-cell keep, ties → smaller code. `idCol` names the row-id
    * column (long-castable — it seeds the hash-spread sample and keys
    * every downstream group/join; round-11 ADVICE: the surface used to
    * hard-code `vec_id` while advertising a generic `vecCol`). */
  def fit(vecs: DataFrame, vecCol: String, m: Int = 8, k: Int = 256,
      sampleN: Int = 8192, lloydIters: Int = 4,
      idCol: String = "vec_id"): Model = {
    val v = normalize(vecs, vecCol, idCol)
    // content-hash tiebreak: duplicate ids carrying DIFFERENT vectors
    // would otherwise tie the sort key and let TakeOrdered keep an
    // arbitrary row per run, breaking the documented determinism (and
    // the cache's bit-identical-refit pin) — round-13 review. Unique
    // ids never reach the third key, so historical fits are unchanged.
    val sample = v.orderBy(xxhash64(col("vec_id")), col("vec_id"),
        xxhash64(col("v")))
      .limit(sampleN).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(sample.nonEmpty, "Pq.fit: empty input")
    val d = sample(0)._2.length
    require(d % m == 0, s"Pq.fit: d=$d not divisible into m=$m blocks")
    // every sampled row at d, loud: copyOfRange ZERO-PADS a short
    // vector past its length — silent all-zero tail blocks would pull
    // the Lloyd centroids toward the origin (round-13 review)
    sample.foreach { case (id, x) =>
      require(x.length == d,
        s"Pq.fit: ragged sample vector (length ${x.length}, expected $d) for id $id")
    }
    val sub = d / m
    val codebooks = Array.tabulate(m) { b =>
      val blockSample: IndexedSeq[(Long, Array[Double])] =
        sample.map { case (id, x) =>
          (id, java.util.Arrays.copyOfRange(x, b * sub, (b + 1) * sub))
        }.toIndexedSeq
      // farthest-point init (the Ivf discipline), then bounded Lloyd
      var cents: IndexedSeq[Array[Double]] =
        Ivf.farthestPicks(blockSample, k).map(blockSample(_)._2)
      var it = 0
      while (it < lloydIters) {
        val sums = Array.fill(cents.length)(new Array[Double](sub))
        val counts = new Array[Long](cents.length)
        blockSample.foreach { case (_, x) =>
          var best = 0; var bd = Double.PositiveInfinity
          var c = 0
          while (c < cents.length) {
            val dd = Ivf.d2(x, cents(c))
            if (dd < bd) { bd = dd; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < sub) { sums(best)(i) += x(i); i += 1 }
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(sub)(i => sums(c)(i) / counts(c))
        }
        it += 1
      }
      cents.toArray
    }
    Model(m, k, sub, codebooks)
  }

  private def codebookDF(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    (for {
      b <- 0 until model.m
      c <- model.codebooks(b).indices
    } yield (b, c.toLong, model.codebooks(b)(c).toSeq)).toDF("b", "code", "cv")
  }

  /** Per-block code assignment: (vec_id, b, code) — the intermediate
    * frame both [[encode]] and [[adcTopk]]'s base side build on. */
  def encodeBlocks(vecs: DataFrame, vecCol: String, model: Model,
      idCol: String = "vec_id"): DataFrame = {
    val spark = vecs.sparkSession
    ApAggs.register(spark)
    VectorExprs.register(spark)
    // One exchange for the whole encode: hash by vec_id up front —
    // HashPartitioning(vec_id) satisfies the (vec_id, b) block
    // aggregate (partitioning on a SUBSET of the grouping keys
    // co-locates every group) AND the per-vec reassembly in [[encode]],
    // so neither aggregate adds a shuffle (the pipeline_pack property).
    normalize(vecs, vecCol, idCol)
      .repartition(col("vec_id"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(model.m - 1))).as("b"),
        guardedVec(col("v"), model, col("vec_id")).as("v"))
      .select(col("vec_id"), col("b"),
        slice(col("v"), col("b") * lit(model.sub) + lit(1), lit(model.sub)).as("sv"))
      .join(broadcast(codebookDF(spark, model)), "b")
      .select(col("vec_id"), col("b"), col("code"),
        (-call_function("vec_sqdist", col("sv"), col("cv"))).as("negd"))
      .groupBy("vec_id", "b")
      .agg(call_function("ap_topm", col("negd"), col("code"), lit(1)).as("keep"))
      .select(col("vec_id"), col("b"), col("keep").getItem(0).getField("k").as("code"))
  }

  /** Encode to one row per vector: codes as a comma-joined string in
    * block order (the house list-output convention). */
  def encode(vecs: DataFrame, vecCol: String, model: Model,
      idCol: String = "vec_id"): DataFrame =
    encodeBlocks(vecs, vecCol, model, idCol)
      .groupBy("vec_id")
      .agg(concat_ws(",",
        transform(array_sort(collect_list(struct(col("b"), col("code")))),
          e => e.getField("code").cast("string"))).as("codes"))

  /** OPQ-lite model: PQ trained in a ROTATED basis — the public
    * recipe for PQ recall on correlated dims (Ge et al., "Optimized
    * Product Quantization", CVPR 2013: their parametric baseline is
    * exactly PCA + an eigenvalue-balanced dimension permutation; the
    * full OPQ alternation is a refinement of it). `basisPerm(p)` is
    * the eigen-component index placed at rotated position p
    * (block-major), so block b quantizes components
    * basisPerm(b·sub .. (b+1)·sub−1). The rotation is orthogonal —
    * sqdist in the rotated basis EQUALS sqdist in the original space —
    * so rotated-ADC results are directly comparable to (and
    * substitutable for) unrotated ones; only the quantization error
    * changes. Deliberately a rotation, NOT `emb_pca`'s whitening:
    * whitening rescales axes by 1/√λ, which changes the metric — ANN
    * in whitened space answers a different (Mahalanobis-like) query
    * than the caller asked. Block balance comes from the permutation
    * instead. */
  final case class RotatedModel(pca: Pca.Model, basisPerm: Array[Int], pq: Model)

  /** Eigenvalue-balanced assignment of the d eigen-components to m
    * blocks: components in descending-λ order, each placed in the
    * non-full block with the smallest Σ log λ (ties → smaller block) —
    * the OPQ-parametric balance criterion (per-block quantizer error
    * scales with the geometric mean of its variances, so balancing
    * Σ log λ equalizes the m quantizers' loads; naive PCA order would
    * dump all the variance into block 0 and waste the other m−1
    * codebooks). Deterministic. Returns the block-major permutation. */
  private[graft] def balancedPermutation(evals: Array[Double], m: Int): Array[Int] = {
    val d = evals.length
    require(d % m == 0, s"balancedPermutation: d=$d not divisible by m=$m")
    val sub = d / m
    // LPT greedy needs NON-NEGATIVE weights (log λ is typically all
    // negative, where "smallest sum" re-feeds the same block and the
    // greedy degenerates to the PCA-order split it exists to avoid).
    // Shifting every log by the minimum is balance-neutral — each block
    // ends with exactly `sub` items, so a constant shift moves every
    // block's load identically — and makes the greedy behave.
    val logs = evals.map(v => math.log(math.max(v, 1e-12)))
    val shift = logs.min
    val sums = new Array[Double](m)
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    logs.zipWithIndex.sortBy { case (w, i) => (-w, i) }.foreach { case (w, i) =>
      val b = (0 until m).filter(buckets(_).length < sub)
        .minBy(b => (sums(b), b))
      buckets(b) += i
      sums(b) += w - shift
    }
    buckets.flatMap(_.toSeq).toArray
  }

  /** Rotate an embedding column into the model's balanced eigenbasis:
    * (vec_id, rv) with rv(p) = component basisPerm(p) of (x − μ).
    * Row-parallel codegen'd projections (Pca.project), no shuffle. */
  def rotate(vecs: DataFrame, vecCol: String, pca: Pca.Model,
      basisPerm: Array[Int], idCol: String = "vec_id"): DataFrame = {
    val d = pca.d
    Pca.project(
        vecs.select(col(idCol).cast("long").as("vec_id"), col(vecCol)),
        vecCol, pca, d)
      .select(col("vec_id"),
        array(basisPerm.map(c => col(s"pc${c + 1}")).toIndexedSeq: _*).as("rv"))
  }

  /** [[rotate]] as a single Column expression — component
    * `basisPerm(p)` of (x − μ), the same per-component
    * `Σ xᵢ·wᵢ − μ·w` arithmetic as Pca.project, packed into one array
    * instead of pc1..pcd columns. The rotated-RESIDUAL paths use this
    * form on BOTH the encode and the LUT side, so the two sides'
    * rotations are the same expression tree by construction (bit-equal
    * doubles — the determinism contract every ADC pin relies on). */
  private[graft] def rotateExpr(vcol: Column, pca: Pca.Model,
      basisPerm: Array[Int]): Column =
    array(basisPerm.toIndexedSeq.map { c =>
      val w = pca.loadings(c)
      val bias = pca.mean.zip(w).map { case (m, wi) => m * wi }.sum
      aggregate(zip_with(vcol, typedLit(w.toSeq), (x, l) => x * l),
        lit(0.0), (acc, e) => acc + e) - lit(bias)
    }: _*)

  /** Train OPQ-lite: PCA fit (centered fixed-point moments), balanced
    * permutation, then the standard [[fit]] on the rotated frame. The
    * unrotated [[fit]] stays the oracled default; this is the recall
    * upgrade for correlated embedding dims (round-11 VERDICT #4). */
  def fitRotated(vecs: DataFrame, vecCol: String, m: Int = 8, k: Int = 256,
      sampleN: Int = 8192, lloydIters: Int = 4,
      idCol: String = "vec_id"): RotatedModel = {
    val pca = Pca.fit(vecs, vecCol)
    val perm = balancedPermutation(pca.eigenvalues, m)
    val rotated = rotate(vecs, vecCol, pca, perm, idCol)
    RotatedModel(pca, perm, fit(rotated, "rv", m, k, sampleN, lloydIters))
  }

  /** Exhaustive ADC top-k in the rotated basis — both sides rotate with
    * the model's (orthogonal) basis, so the returned ADC values
    * approximate the ORIGINAL-space sqdist and rank against the same
    * exact neighbors. Compose with [[ivfAdcTopk]] by passing a rotated
    * frame instead. */
  def adcTopkRotated(queries: DataFrame, base: DataFrame, vecCol: String,
      rm: RotatedModel, topk: Int, idCol: String = "vec_id"): DataFrame =
    adcTopk(
      rotate(queries, vecCol, rm.pca, rm.basisPerm, idCol),
      rotate(base, vecCol, rm.pca, rm.basisPerm, idCol),
      "rv", rm.pq, topk)

  /** Per-query ADC lookup table as a relation: (i, b, code, bd) — for
    * every query, the block distance to every codebook entry (|Q|·m·k
    * rows; the classic ADC table, each block distance computed ONCE and
    * reused across every candidate sharing that code). */
  private def lutDF(queries: DataFrame, vecCol: String, model: Model,
      idCol: String): DataFrame = {
    val spark = queries.sparkSession
    normalize(queries, vecCol, idCol)
      .select(col("vec_id").as("i"),
        guardedVec(col("v"), model, col("vec_id")).as("v"))
      .select(col("i"), explode(sequence(lit(0), lit(model.m - 1))).as("b"),
        col("v"))
      .select(col("i"), col("b"),
        slice(col("v"), col("b") * lit(model.sub) + lit(1), lit(model.sub)).as("sv"))
      .join(broadcast(codebookDF(spark, model)), "b")
      .select(col("i"), col("b"), col("code"),
        call_function("vec_sqdist", col("sv"), col("cv")).as("bd"))
  }

  /** Shared ADC rank tail: (i, vec_id, b, bd) block rows → ordered
    * per-pair sum → bounded ap_topm per query. The sum runs in BLOCK
    * ORDER (sorted fold over the collected pairs) — a plain sum()
    * would be partition-order dependent in the last ulp and could flip
    * exact-tie ranks. */
  private def adcRank(blockRows: DataFrame, topk: Int): DataFrame =
    blockRows
      .groupBy(col("i"), col("vec_id"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("b"), col("bd")))),
          e => e.getField("bd")),
        lit(0.0), (acc, x) => acc + x).as("adc"))
      .select(col("i"), col("vec_id"),
        (-col("adc")).as("negd"), col("adc"))
      .groupBy("i")
      .agg(call_function("ap_topm", col("negd"), col("vec_id"), lit(topk)).as("keep"))
      .select(col("i"), posexplode(col("keep")).as(Seq("pos", "e")))
      .select(col("i"), col("e.k").as("k_id"), (-col("e.s")).as("adc"),
        (col("pos") + lit(1)).as("rnk"))

  /** Exhaustive ADC top-k: for every query row (same schema as base),
    * approximate sqdist to every base vector from its codes and keep
    * the k nearest (ties → smaller base id; self-match excluded).
    * Returns (i, k_id, adc, rnk). This is the oracle-grade kernel —
    * |Q|·|base|·m joined rows; production restricts the pairs with IVF
    * candidates via [[ivfAdcTopk]]. */
  def adcTopk(queries: DataFrame, base: DataFrame, vecCol: String,
      model: Model, topk: Int, idCol: String = "vec_id"): DataFrame = {
    val spark = queries.sparkSession
    ApAggs.register(spark)
    VectorExprs.register(spark)
    adcRank(
      encodeBlocks(base, vecCol, model, idCol)
        .join(lutDF(queries, vecCol, model, idCol), Seq("b", "code"))
        .filter(col("i") =!= col("vec_id")),
      topk)
  }

  /** IVF+PQ residual index — IVF centroids plus a PQ model trained on
    * the IVF RESIDUALS r = x − centroid(home(x)) (Jégou et al. 2011
    * §V — the faiss IVFADC encoding). Round-12 VERDICT #1: the raw-
    * vector codes quantized the full data spread and measured recall@10
    * 0.552 at c = 16 / nprobe = 8 (exhaustive ADC 0.644); residual
    * codes spend the same m·log₂k bits on the much tighter
    * within-bucket distribution, so quantization error — and with it
    * the ranking loss — drops at an unchanged bit budget. Residual is
    * the default [[Coding]]; the centroids, the codebooks and the
    * coding are COUPLED — codes only decode against the centroid set
    * and coding they were trained with. */
  final case class IvfPqModel(cents: Seq[(Long, Seq[Double])], pq: Model,
      coding: Coding = Coding.Residual)

  /** What an index's codebooks quantize — the one value that decides
    * how members are encoded, how a query becomes its vector in a
    * probed cell, and how a store of the index is tagged on disk (meta
    * `family`, plus the rotated coding's `rot` dataset). Every index
    * operation (build, append, read, write, search) is one code path
    * over this value. */
  sealed trait Coding {
    /** The meta `family` tag of a stored generation. */
    private[Pq] def family: String
    /** Member codes (vec_id, b, code) of `v`'s rows (vec_id, v), homed
      * by `homes` (vec_id, c_id). */
    private[Pq] def encode(v: DataFrame, homes: DataFrame, m: IvfPqModel): DataFrame
    /** Query cells (i, c_id, qv) of `q` (i, c_id, v): each probing
      * query's vector in each cell it probes. */
    private[Pq] def cells(q: DataFrame, m: IvfPqModel): DataFrame
    /** Datasets a generation of this coding stores beside the shared
      * ones. */
    private[Pq] def extras(spark: SparkSession): Seq[(String, DataFrame)] = Nil
  }

  object Coding {
    /** Codes quantize r = x − centroid(home(x)); a query scores a probed
      * cell from its residual against that cell's centroid (the
      * residual ADC identity ‖q − x‖² ≈ ‖(q − c) − r̂ₓ‖² for x homed
      * in c). Store family `ivfpq`. */
    case object Residual extends Coding {
      private[Pq] def family = "ivfpq"
      private[Pq] def encode(v: DataFrame, homes: DataFrame, m: IvfPqModel) =
        encodeBlocks(residualsFrom(v, homes, m.cents), "rv", m.pq)
      private[Pq] def cells(q: DataFrame, m: IvfPqModel) =
        centered(q, m.cents).select(col("i"), col("c_id"), col("x").as("qv"))
    }

    /** OPQ over residuals: codes quantize R·(r − μ), the residual
      * rotated into the eigenvalue-balanced basis of the residual
      * distribution (see [[fitIvfPqRotated]]). Both sides rotate
      * through the same [[rotateExpr]] tree, so they are bit-equal by
      * construction. Store family `opq`, with the rotation as `rot`. */
    final case class Rotated(pca: Pca.Model, basisPerm: Array[Int]) extends Coding {
      private def rotated(x: Column): Column = rotateExpr(x, pca, basisPerm)
      private[Pq] def family = "opq"
      private[Pq] def encode(v: DataFrame, homes: DataFrame, m: IvfPqModel) =
        encodeBlocks(residualsFrom(v, homes, m.cents)
          .select(col("vec_id"), rotated(col("rv")).as("rv")), "rv", m.pq)
      private[Pq] def cells(q: DataFrame, m: IvfPqModel) =
        centered(q, m.cents).select(col("i"), col("c_id"), rotated(col("x")).as("qv"))
      override private[Pq] def extras(spark: SparkSession) = {
        import spark.implicits._
        Seq("rot" -> Seq((pca.mean.toSeq, pca.eigenvalues.toSeq,
            basisPerm.toSeq, pca.loadings.map(_.toSeq).toSeq))
          .toDF("mean", "eigenvalues", "perm", "loadings"))
      }
    }

    /** Codes quantize the raw vector; the centroids only pick the cells
      * a query probes, and a query's lookup table is the same in every
      * cell. The auto chooser's pick on isotropic corpora. Store family
      * `rawpq`. */
    case object Raw extends Coding {
      private[Pq] def family = "rawpq"
      private[Pq] def encode(v: DataFrame, homes: DataFrame, m: IvfPqModel) =
        encodeBlocks(v, "v", m.pq)
      private[Pq] def cells(q: DataFrame, m: IvfPqModel) =
        q.select(col("i"), col("c_id"), guardedVec(col("v"), m.pq, col("i")).as("qv"))
    }

    /** (i, c_id, x): each query's guarded residual against the probed
      * cell's centroid. */
    private def centered(q: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
      val spark = q.sparkSession
      import spark.implicits._
      q.join(broadcast(cents.toDF("c_id", "centv")), "c_id")
        .select(col("i"), col("c_id"), guardedDiff(col("v"), col("centv"), col("i")).as("x"))
    }

    /** The coding of the stored generation at `genDir` from its meta
      * `family` tag: no tag (a store written before the tag existed)
      * reads as residual, the only coding then; the rotated coding
      * reads its `rot` dataset; an unknown tag fails loud. */
    private[Pq] def load(spark: SparkSession, genDir: String,
        family: Option[String]): Coding = family.getOrElse("ivfpq") match {
      case "ivfpq" => Residual
      case "rawpq" => Raw
      case "opq" =>
        val r = spark.read.schema(rotSchema).parquet(s"$genDir/rot").head()
        // the nested rows come back as mutable ArraySeqs — type them as
        // the collection root, not immutable.Seq (a CCE inside map
        // otherwise)
        Rotated(Pca.Model(r.getSeq[Double](0).toArray,
            r.getSeq[Double](1).toArray,
            r.getSeq[scala.collection.Seq[Double]](3).map(_.toArray).toArray),
          r.getSeq[Int](2).toArray)
      case other => throw new IllegalArgumentException(
        s"index generation $genDir has family '$other', which no coding " +
          "reads (ivfpq, opq, rawpq)")
    }
  }

  /** Each vector's home bucket: (vec_id, c_id) via one nprobe = 1
    * assignment pass. crnk 1 of ANY nprobe is the same ranking, so a
    * caller that already ran a wider assignment passes its crnk = 1
    * rows to [[residualsFrom]] instead — bit-identical, one pass. */
  private[graft] def homesOf(v: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    Ivf.assignments(v, cents, nprobe = 1,
        (a, b) => call_function("vec_sqdist", a, b))
      .filter(col("crnk") === 1)
      .select(col("vec_id"), col("c_id"))

  /** Guarded centered difference shared by the residual relation and
    * the residual LUT: zip_with silently NULL-PADS a ragged pair (the
    * exact hazard Pca.fit fails loud on), so the subtraction only runs
    * behind an assert_true on equal sizes and no null elements —
    * execution-time loud, prune-proof (the guard is INSIDE the result
    * expression), no extra pass. */
  private def guardedDiff(x: Column, c: Column, id: Column): Column =
    when(
      assert_true(
        size(x) === size(c) && !exists(x, e => e.isNull),
        concat(lit("Pq residual: ragged or null-element vector (size "),
          size(x).cast("string"), lit(" vs "), size(c).cast("string"),
          lit(") for id "), id.cast("string"))).isNull,
      zip_with(x, c, (a, b) => a - b))

  /** (vec_id, c_id, rv): residuals against the given HOME relation —
    * the relation both the residual TRAIN and the residual ENCODE
    * quantize. One broadcast centroid join + a codegen'd guarded
    * zip_with; no exchange beyond the homes input's own. */
  private[graft] def residualsFrom(v: DataFrame, homes: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    homes.join(v, "vec_id")
      .join(broadcast(cents.toDF("c_id", "centv")), "c_id")
      .select(col("vec_id"), col("c_id"),
        guardedDiff(col("v"), col("centv"), col("vec_id")).as("rv"))
  }

  /** [[residualsFrom]] with its own nprobe = 1 assignment pass. */
  private[graft] def residuals(v: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    residualsFrom(v, homesOf(v, cents), cents)

  /** Train the residual index: centroids via the shared
    * [[Ivf.buildCentroids]] recipe (auto-sized unless pinned), then the
    * standard [[fit]] on the residual relation. The centroids and the
    * codebooks are COUPLED — residual codes only decode against the
    * centroid set they were trained with, which is why the index is one
    * value and not two parameters ([[ivfAdcTopk]] takes it whole). */
  def fitIvfPq(vecs: DataFrame, vecCol: String, m: Int = 8, k: Int = 256,
      centroids: Int = 0, sampleN: Int = 8192, lloydIters: Int = 4,
      idCol: String = "vec_id"): IvfPqModel = {
    val spark = vecs.sparkSession
    ApAggs.register(spark)
    VectorExprs.register(spark)
    val v = normalize(vecs, vecCol, idCol)
    val c = if (centroids > 0) centroids else Ivf.autoCentroids(v.count())
    val cents = Ivf.buildCentroids(v, c)
    IvfPqModel(cents,
      fit(residuals(v, cents), "rv", m, k, sampleN, lloydIters, "vec_id"))
  }

  /** Materialized index: the model plus the corpus-side relations
    * every query re-derived per call — homes (vec_id, c_id) and block
    * codes (vec_id, b, code) in the model's coding; the session
    * registry ([[ivfPqIndexCached]]) persists both MEMORY_ONLY. With
    * these in executor storage a workload query pays ONLY its own
    * side: M-row assignment, its query cells, the ADC kernel — the
    * per-call O(N·c) assignment and O(N·m) re-encode are gone (round-13
    * review: the model-only cache still re-paid both). */
  final case class IvfPqIndex(model: IvfPqModel, homes: DataFrame,
      codes: DataFrame)

  // Session-scoped index registry (round-12 VERDICT #2): a facade
  // caller iterating queries paid a full centroid-build + residual
  // model fit PER CALL. Keyed by the canonicalized optimized plan's
  // STRING RENDERING of the NORMALIZED input (so the same data reached
  // through renamed columns still hits) plus the shape parameters.
  // Keys are strings, NOT LogicalPlans: a plan's leaf relations
  // strongly reference their SparkSession, and a key that reaches its
  // session pins the entry (round-13 review).
  //
  // Two tiers per entry, the Tables load/warm discipline:
  //   - the MODEL (driver-side arrays — does not reach the session);
  //   - optionally the MATERIALIZED index (persisted homes + codes
  //     DataFrames, built on first indexed query). These DO reach the
  //     session — the explicit, bounded price of materialized executor
  //     storage, held until [[invalidateIndexCache]] or
  //     [[graft.SessionResources.release]] unpersists it.
  private final class IndexEntry(val model: IvfPqModel) {
    @volatile var index: Option[IvfPqIndex] = None
  }

  private def unpersistIx(ix: IvfPqIndex): Unit = {
    ix.homes.unpersist(false); ix.codes.unpersist(false); ()
  }

  private val indexes = graft.SessionResources.slot[(String, Int, Int, Int), IndexEntry](
    "pq.index", (_, e) => e.index.foreach(unpersistIx))

  /** Drop every cached index of `spark`, unpersisting any materialized
    * homes/codes storage — the refit hook for callers whose underlying
    * DATA changed under an unchanged plan (see the staleness note on
    * [[fitIvfPqCached]]), and the release hook for the index tier's
    * executor storage. */
  def invalidateIndexCache(spark: SparkSession): Unit = indexes.release(spark)

  /** Identity of the plan's leaf relations, rendered EXPLICITLY: a
    * plan's treeString shows `Relation [cols] parquet` — NO file
    * paths — and a LocalRelation prints schema but not data, so two
    * same-schema datasets would collide on the rendered key and the
    * cache would serve the wrong model. File sources key on their root
    * paths; local (test/in-memory) relations on their rows' hash;
    * RDD-backed plans (localCheckpoint / createDataFrame(rdd)) on the
    * RDD id; cached plans on their cache builder's identity. Returns
    * None for any leaf type without a provable data identity — the
    * caller then BYPASSES the cache (correct-but-uncached beats a
    * possible collision serving the wrong index; round-13 review:
    * LogicalRDD and InMemoryRelation render no data identity at all,
    * so the string fallback collided same-schema checkpoints). */
  private def leafIdentity(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[String] = {
    val ids = plan.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Some(s"files:${fs.location.rootPaths.mkString(",")}")
          case _ => None
        }
      case loc: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(s"local:${loc.data.hashCode}:${loc.output.map(a => a.name + ":" + a.dataType.catalogString).mkString(",")}")
      case rdd: org.apache.spark.sql.execution.LogicalRDD =>
        Some(s"rdd:${rdd.rdd.id}")
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        Some(s"cached:${System.identityHashCode(imr.cacheBuilder)}")
      case _ => None
    }
    if (ids.forall(_.isDefined)) Some(ids.flatten.mkString(";")) else None
  }

  /** Cache key for the normalized input, or None when any leaf lacks a
    * provable data identity (bypass — see [[leafIdentity]]). The plan
    * is the OPTIMIZED canonicalized one, not analyzed: the optimizer
    * collapses the normalization Project into a caller's rename
    * Projects, so two column-name routes to the same data share one
    * entry; canonicalization then strips alias names and expr ids.
    * Optimization is driver-only analysis work — no jobs. The key is
    * the untruncated verbose rendering + schema + EXPLICIT leaf
    * identity. */
  private def cacheKey(v: DataFrame, m: Int, k: Int,
      centroids: Int): Option[(String, Int, Int, Int)] = {
    val plan = v.queryExecution.optimizedPlan.canonicalized
    leafIdentity(plan).map { leaves =>
      (plan.treeString(verbose = true, addSuffix = false,
          maxFields = Int.MaxValue, printOperatorId = false) +
        "\n" + plan.schema.catalogString + "\n" + leaves,
        m, k, centroids)
    }
  }

  /** Entry for the normalized input — fits the model on first sight;
    * None when the source is unidentifiable (caller bypasses). */
  private def cachedEntry(v: DataFrame, m: Int, k: Int,
      centroids: Int): Option[IndexEntry] =
    cacheKey(v, m, k, centroids).map { key =>
      indexes(v.sparkSession, key)(new IndexEntry(fitIvfPq(v, "v", m, k, centroids)))
    }

  /** [[fitIvfPq]] behind the session index registry: the first call per
    * (input plan, m, k, centroids) builds; later calls return the SAME
    * model with no jobs (plan canonicalization only — analysis, never
    * execution). Deterministic builds make the cache semantically
    * invisible FOR IMMUTABLE INPUTS: a refit after invalidation
    * produces bit-identical codebooks (PqSpec pins refit determinism).
    *
    * Staleness contract (round-13 review): the key is the PLAN plus
    * its provable LEAF DATA IDENTITY — file sources key on their root
    * paths, so a path OVERWRITTEN IN PLACE (same directory, new data)
    * serves the FIRST build's centroids/codebooks until the caller
    * refits: call [[invalidateIndexCache]] after an in-place
    * re-ingest, or use the uncached [[fitIvfPq]] when the corpus
    * mutates under you. A re-written DIFFERENT path keys fresh, and
    * sources with no provable identity at all (e.g. JDBC relations)
    * BYPASS the cache — refit every call, never stale. */
  def fitIvfPqCached(vecs: DataFrame, vecCol: String, m: Int = 8, k: Int = 256,
      centroids: Int = 0, idCol: String = "vec_id"): IvfPqModel = {
    val v = normalize(vecs, vecCol, idCol)
    cachedEntry(v, m, k, centroids) match {
      case Some(e) => e.model
      case None => fitIvfPq(v, "v", m, k, centroids) // unidentifiable source
    }
  }

  /** The MATERIALIZED residual index behind the session registry: the
    * first call per (input plan, shape) fits the model; the first call
    * needing the index marks homes + codes persisted (MEMORY_ONLY —
    * materialized lazily by the first query that runs, reused by every
    * later one). Storage cost ≈ N·(m+2) small values — release with
    * [[invalidateIndexCache]]. An unidentifiable source (no provable
    * leaf data identity) gets a correct UNCACHED index each call. */
  def ivfPqIndexCached(vecs: DataFrame, vecCol: String, m: Int = 8,
      k: Int = 256, centroids: Int = 0, idCol: String = "vec_id"): IvfPqIndex = {
    // the returned homes/codes are consumable directly (count, append,
    // custom joins) — they must not depend on a LATER search call
    // registering the vector expressions they reference
    ApAggs.register(vecs.sparkSession)
    VectorExprs.register(vecs.sparkSession)
    val v = normalize(vecs, vecCol, idCol)
    def persisted(df: DataFrame, persist: Boolean): DataFrame =
      if (persist) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      else df
    // index from an already-fit model: one homes pass (unavoidable —
    // the fit's own homes relation was transient)
    def fromModel(model: IvfPqModel): IvfPqIndex = {
      val ix = indexFrom(v, model)
      IvfPqIndex(model, persisted(ix.homes, true), persisted(ix.codes, true))
    }
    // fresh build: ONE homes relation serves the residual TRAIN, the
    // persisted index side, and the codes (round-13 review: fitIvfPq
    // followed by a separate homesOf re-paid the O(N·c·d) assignment
    // pass on every first build)
    def buildAll(persist: Boolean): IvfPqIndex = {
      val c = if (centroids > 0) centroids else Ivf.autoCentroids(v.count())
      val cents = Ivf.buildCentroids(v, c)
      val homes = persisted(homesOf(v, cents), persist)
      val model = IvfPqModel(cents,
        fit(residualsFrom(v, homes, cents), "rv", m, k))
      IvfPqIndex(model, homes, persisted(model.coding.encode(v, homes, model), persist))
    }
    cacheKey(v, m, k, centroids) match {
      case None => buildAll(persist = false) // unidentifiable source
      case Some(key) =>
        val spark = vecs.sparkSession
        val e = indexes(spark, key) {
          val ix = buildAll(persist = true)
          val e = new IndexEntry(ix.model)
          e.index = Some(ix)
          e
        }
        val ix = e.index.getOrElse(e.synchronized {
          e.index.getOrElse {
            val ix = fromModel(e.model)
            e.index = Some(ix)
            ix
          }
        })
        // a release racing the build dropped the entry without freeing
        // an index installed after its sweep (round-13 ADVICE): free it
        // here (unpersist is idempotent with the sweep's)
        if (!indexes.holds(spark, key, e)) unpersistIx(ix)
        ix
    }
  }

  /** The index of a fitted model over its corpus, any coding: one homes
    * pass and one encode, both lazy — persist them, search them, or
    * [[writeIndex]] them. */
  def indexOf(vecs: DataFrame, vecCol: String, model: IvfPqModel,
      idCol: String = "vec_id"): IvfPqIndex = {
    ApAggs.register(vecs.sparkSession)
    VectorExprs.register(vecs.sparkSession)
    indexFrom(normalize(vecs, vecCol, idCol), model)
  }

  private def indexFrom(v: DataFrame, model: IvfPqModel): IvfPqIndex = {
    val homes = homesOf(v, model.cents)
    IvfPqIndex(model, homes, model.coding.encode(v, homes, model))
  }

  /** [[appendToIndex]]'s outcome: the extended index when the batch is
    * within the drift bound, else `refitNeeded = true` and no index —
    * the caller refits over the full corpus ([[ivfPqIndexCached]] after
    * [[invalidateIndexCache]], or [[fitIvfPq]]). `drift` is the
    * relative gap between the corpus's and the batch's quantized
    * residual moments. `incHomes`/`incCodes` carry the BATCH's own
    * encoded rows (the union's right side) so a persistence caller can
    * [[writeIndexIncrement]] exactly what was encoded — never a second
    * encode pass. */
  final case class AppendedIndex(index: Option[IvfPqIndex], drift: Double,
      refitNeeded: Boolean, incHomes: Option[DataFrame] = None,
      incCodes: Option[DataFrame] = None)

  /** Mean reconstructed residual energy of an encoded relation — the
    * quantized second moment E[‖r̂‖²], computed from the CODES alone
    * (per-(b, code) squared norms are driver-side model arrays; one
    * broadcast join + two aggregates over the code rows, never a corpus
    * vector rescan). Both sides of [[appendToIndex]]'s drift test go
    * through THIS estimator, so the quantization bias cancels: an
    * i.i.d. batch drifts ≈ 0, a distribution shift the codebooks don't
    * fit shows up as a moment gap. The corpus side is still an N·m-row
    * scan per call — a PERSISTED index avoids it entirely via the
    * moment sidecars ([[indexMoment]]): the ingest sinks pass that
    * merged value as `corpusMoment`, and this scan is the fallback for
    * in-memory indexes and sidecar-less stores. */
  private def codeMoment(codes: DataFrame, model: Model): Double = {
    val spark = codes.sparkSession
    import spark.implicits._
    val n2 = (for {
      b <- 0 until model.m
      c <- model.codebooks(b).indices
    } yield (b, c.toLong, model.codebooks(b)(c).map(x => x * x).sum))
      .toDF("b", "code", "n2")
    val r = codes.join(broadcast(n2), Seq("b", "code"))
      .groupBy("vec_id").agg(sum(col("n2")).as("e"))
      .agg(avg(col("e"))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** INCREMENTAL index maintenance (round-17 VERDICT #3 — the daily
    * append that should not refit the world): encode ONLY the new
    * batch against the index's cached centroids and codebooks — one
    * nprobe-1 assignment + one encode in the index's coding over the
    * BATCH, the untouched corpus side rides its persisted homes/codes
    * storage with zero new jobs — and extend the index by union.
    * Guards:
    *
    *  - DUPLICATE ids fail loud (bounded probe): an appended id already
    *    in the index would silently double its candidacy in every
    *    downstream search.
    *  - STALENESS: a model fit on yesterday's distribution quietly
    *    degrades recall on a shifted batch. The quantized residual
    *    moments of corpus and batch ([[codeMoment]] — same estimator
    *    both sides, so the comparison is bias-free and never rescans
    *    the corpus) must agree within `driftBound` relative gap;
    *    past it the append REFUSES (`refitNeeded = true`, the batch's
    *    work unpersisted) and the caller refits over the full corpus.
    *
    * The returned index is a plain [[IvfPqIndex]], so the whole search
    * surface composes unchanged — ivfAdcTopk's queryIds/allowedIds
    * (simsearch_filtered's hook) and the rerank tier all run against
    * appended indexes. Deliberately NOT registered in the session index
    * cache: the cache key is the corpus PLAN, and an appended index
    * belongs to corpus+batch — callers hold the returned value (the
    * pandas-API shape: explicit index object in, explicit out). */
  def appendToIndex(idx: IvfPqIndex, newVecs: DataFrame, vecCol: String,
      idCol: String = "vec_id", driftBound: Double = 0.5,
      persist: Boolean = true,
      corpusMoment: Option[Double] = None,
      precomputedHomes: Option[DataFrame] = None,
      skipChecks: Boolean = false): AppendedIndex = {
    require(driftBound >= 0, s"appendToIndex: driftBound $driftBound < 0")
    val spark = newVecs.sparkSession
    ApAggs.register(spark)
    VectorExprs.register(spark)
    val model = idx.model
    val vNew = normalize(newVecs, vecCol, idCol)
    // skipChecks (round 22): callers that have ALREADY proved the batch
    // non-empty, its ids distinct, and none of them indexed (the
    // semantic sink's transaction guards — id hygiene + the
    // indexHasBatch homes probe) skip the two bounded probe jobs on a
    // per-micro-batch hot path; the default keeps them for every other
    // caller
    if (!skipChecks) {
      if (vNew.limit(1).collect().isEmpty)
        return AppendedIndex(Some(idx), 0.0, refitNeeded = false)
      // ONE global-aggregate job: the clean path scans every partition
      // to find nothing either way, and limit(1).collect() paid
      // executeTake's incremental sweeps for it (round 22; min(struct)
      // also makes the named offender deterministic)
      val dup = vNew.select("vec_id")
        .join(idx.homes.select("vec_id"), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), lit("already indexed").as("kind"))
        .unionByName(vNew.groupBy("vec_id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1)
          .select(col("vec_id"), lit("repeated within the batch").as("kind")))
        .agg(min(struct(col("vec_id"), col("kind"))).as("w"))
        .head()
      if (!dup.isNullAt(0)) {
        val r = dup.getStruct(0)
        throw new IllegalArgumentException(
          s"appendToIndex: id ${r.get(0)} is ${r.getString(1)} - an appended " +
            "duplicate would double its search candidacy")
      }
    }
    def persisted(df: DataFrame): DataFrame =
      if (persist) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      else df
    // precomputedHomes: the batch's (vec_id, c_id) nprobe=1 assignment
    // against idx's OWN centroids when the caller already materialized
    // it (the semantic sink's home-cell layout write) — bit-identical to
    // the recompute, one assignment pass instead of two (round 21). It
    // is already storage-backed — persisting it again would just layer
    // storage on storage
    val homesNew = precomputedHomes
      .map(_.select(col("vec_id"), col("c_id")))
      .getOrElse(persisted(homesOf(vNew, model.cents)))
    // the encode's homes side is BROADCAST (round 22): homesNew is
    // always batch-bounded here (it is the NEW batch's assignment), and
    // a materialized/persisted relation carries no size statistics, so
    // the planner would otherwise sort-merge the batch against its own
    // homes — two extra shuffle stages per append
    val codesNew = persisted(model.coding.encode(vNew, broadcast(homesNew), model))
    // corpus side from the caller's sidecar-merged value when it has
    // one (the persisted-index hot path — see [[indexMoment]]); the
    // batch side is always a batch-sized scan, so its materializing
    // action runs bounded (graft.Checkpoints.bounded — the encode plan
    // is batch-bounded at any corpus scale). Both sides' moments are
    // read from codes of the same coding, so a rotation cancels like
    // the quantization bias does
    val mOld = corpusMoment.getOrElse(codeMoment(idx.codes, model.pq))
    val mNew = graft.Checkpoints.bounded(codesNew)(codeMoment(_, model.pq))
    val drift =
      if (mOld > 0) math.abs(mNew - mOld) / mOld
      else if (mNew > 0) Double.PositiveInfinity
      else 0.0
    if (drift > driftBound) {
      // only release what THIS call persisted — a precomputed home
      // relation is caller-owned storage (its checkpoint lifecycle is
      // the caller's release contract)
      if (persist) {
        if (precomputedHomes.isEmpty) homesNew.unpersist(false)
        codesNew.unpersist(false)
      }
      AppendedIndex(None, drift, refitNeeded = true)
    } else
      AppendedIndex(
        Some(IvfPqIndex(model, idx.homes.unionByName(homesNew),
          idx.codes.unionByName(codesNew))),
        drift, refitNeeded = false, Some(homesNew), Some(codesNew))
  }

  // ---- index persistence (round-18 VERDICT #4) -------------------------
  //
  // The faiss write_index/read_index equivalent on the engine's marker
  // protocol (graft.MarkerStore — the upsert/ingest-corpus discipline):
  //   <dir>/gen=<g>/{meta,cents,codebooks,homes,codes,moment}  snapshots
  //   <dir>/gen=<g>/rot                   the rotated coding's rotation
  //   <dir>/inc=<i>/{homes,codes,moment}                appended batches
  //   <dir>/_gens/<g>_<coveredMaxInc>, <dir>/_commits/<i>  markers (LAST)
  // meta carries (m, k, sub, family); the family tag is the index's
  // [[Coding]] — `ivfpq` residual, `opq` rotated residual, `rawpq` raw.
  // A fresh session readIndex()es with ZERO fit jobs — bounded driver
  // reads (meta row, ≤c centroid rows, m·k codebook rows, the rotation),
  // one collect job each under a declared schema, plus lazy parquet
  // plans for homes/codes — and serves every search overload
  // unchanged. writeIndex is itself the compaction: it
  // snapshots the CALLER's index (typically readIndex + appendToIndex's
  // result) as the next generation covering all committed increments,
  // so read-plan fan-in stays (1 generation + tail) at any append count.

  /** Persist a full index snapshot of any coding as the next
    * generation; the generation marker commits LAST, so a crash
    * mid-write leaves an invisible orphan the retry overwrites.
    * Increment ids are the caller's batch sequence and must be ≥ 0 (the
    * seed generation covers -1). */
  def writeIndex(idx: IvfPqIndex, dir: String): Unit = {
    val spark = idx.homes.sparkSession
    import spark.implicits._
    val pq = idx.model.pq
    val g = graft.MarkerStore.liveGen(spark, dir).map(_._1).getOrElse(0L) + 1
    val covered = (graft.MarkerStore.committedIncs(spark, dir) :+ -1L).max
    Seq((pq.m, pq.k, pq.sub, idx.model.coding.family))
      .toDF("m", "k", "sub", "family")
      .write.mode("overwrite").parquet(s"$dir/gen=$g/meta")
    idx.model.cents.toDF("c_id", "centv")
      .write.mode("overwrite").parquet(s"$dir/gen=$g/cents")
    codebookDF(spark, pq)
      .write.mode("overwrite").parquet(s"$dir/gen=$g/codebooks")
    idx.homes.write.mode("overwrite").parquet(s"$dir/gen=$g/homes")
    idx.codes.write.mode("overwrite").parquet(s"$dir/gen=$g/codes")
    // sidecar from the just-WRITTEN bytes, not a re-execution of the
    // lazy codes plan (round-20 ADVICE): the plan is corpus-sized on the
    // refit/vacuum paths — a second full encode pass — and any
    // re-execution nondeterminism would silently desync the sidecar
    // from the stored codes; reading the file back guarantees
    // sidecar ≡ stored and costs one bounded aggregate
    momentCounts(spark.read.schema(codesSchema).parquet(s"$dir/gen=$g/codes"))
      .write.mode("overwrite").parquet(s"$dir/gen=$g/moment")
    idx.model.coding.extras(spark).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/gen=$g/$name")
    }
    graft.MarkerStore.commitGen(spark, dir, g, covered)
  }

  // Explicit schemas of the persisted index datasets — the exact shapes
  // writeIndex/writeIndexIncrement land (round-21 optimization:
  // parquet reads WITHOUT a user schema pay one footer-inference job
  // per relation build, a per-micro-batch tax in the ingest sinks; the
  // parts are homogeneous by the store invariant, so the schema is
  // static). The generation model's datasets (meta, cents, codebooks,
  // the rotated coding's rot) are declared too, so a cold model load
  // runs its collects and nothing else. StoreSchemaSpec pins each
  // against a freshly-written store's inferred schema, so a writer
  // change fails loud here.
  private[graft] val homesSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("c_id", LongType)))
  private[graft] val codesSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("b", IntegerType),
    StructField("code", LongType)))
  private[graft] val momentSchema: StructType = StructType(Seq(
    StructField("b", IntegerType), StructField("code", LongType),
    StructField("cnt", LongType)))
  /** `family` is declared too: a meta written before the tag existed
    * has no such column and reads it as null (the residual coding). */
  private[graft] val metaSchema: StructType = StructType(Seq(
    StructField("m", IntegerType), StructField("k", IntegerType),
    StructField("sub", IntegerType), StructField("family", StringType)))
  private val doubles = ArrayType(DoubleType, containsNull = true)
  private[graft] val centsSchema: StructType = StructType(Seq(
    StructField("c_id", LongType), StructField("centv", doubles)))
  private[graft] val codebooksSchema: StructType = StructType(Seq(
    StructField("b", IntegerType), StructField("code", LongType),
    StructField("cv", doubles)))
  private[graft] val rotSchema: StructType = StructType(Seq(
    StructField("mean", doubles), StructField("eigenvalues", doubles),
    StructField("perm", ArrayType(IntegerType, containsNull = true)),
    StructField("loadings", ArrayType(doubles, containsNull = true))))

  /** The moment SIDECAR of an encoded relation: per-(b, code) row
    * counts — ≤ m·k rows, model-independent, and sufficient to
    * reconstruct [[codeMoment]]'s estimator exactly (Σ cnt·‖c‖² over a
    * driver-side codebook walk, n_vecs = Σ cnt / m). Written beside
    * every persisted generation and increment so the ingest sinks'
    * per-batch drift test never re-scans the stored codes
    * ([[indexMoment]]). */
  private def momentCounts(codes: DataFrame): DataFrame =
    codes.groupBy("b", "code").agg(count(lit(1)).as("cnt"))

  /** The persisted index's corpus moment ([[codeMoment]]'s value),
    * merged from the live generation's and committed increments'
    * moment sidecars — bounded driver reads (≤ m·k rows per part),
    * never a scan of the stored codes. None when any live part
    * predates the sidecar (the caller falls back to the scan). */
  def indexMoment(spark: SparkSession, dir: String,
      model: Model): Option[Double] = {
    val (gen, tail) = graft.MarkerStore.resolve(spark, dir)
    require(gen.nonEmpty, s"index $dir has no committed generation")
    val parts = Seq(s"$dir/gen=${gen.get._1}/moment") ++
      tail.map(i => s"$dir/inc=$i/moment")
    val fs = graft.MarkerStore.fs(spark, dir)
    if (!parts.forall(p => fs.exists(new org.apache.hadoop.fs.Path(p))))
      return None
    // ≤ m·k rows per part by construction — a bounded action
    val counts = graft.Checkpoints.bounded(spark.read.schema(momentSchema)
        .parquet(parts: _*).groupBy("b", "code").agg(sum(col("cnt")).as("cnt")))(
        _.collect())
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2))
    val total = counts.map(_._3).sum
    if (total == 0) return Some(0.0)
    val energy = counts.map { case (b, c, n) =>
      n * model.codebooks(b)(c.toInt).map(x => x * x).sum
    }.sum
    Some(energy / (total.toDouble / model.m))
  }

  /** Persist one appended batch's homes/codes as increment `incId`
    * (take them from [[AppendedIndex.incHomes]]/[[AppendedIndex.incCodes]]
    * — encode once, persist the same rows). Returns false when the
    * increment high-water mark skips a re-delivered id; the marker
    * commits LAST. */
  def writeIndexIncrement(homes: DataFrame, codes: DataFrame, dir: String,
      incId: Long): Boolean = {
    require(incId >= 0, s"writeIndexIncrement: increment id $incId < 0")
    val spark = homes.sparkSession
    val committed = graft.MarkerStore.committedIncs(spark, dir)
    if (committed.nonEmpty && incId <= committed.max) false
    else {
      homes.write.mode("overwrite").parquet(s"$dir/inc=$incId/homes")
      codes.write.mode("overwrite").parquet(s"$dir/inc=$incId/codes")
      // sidecar from the WRITTEN bytes — see writeIndex: no third
      // execution of the batch encode, sidecar ≡ stored by construction
      momentCounts(spark.read.schema(codesSchema).parquet(s"$dir/inc=$incId/codes"))
        .write.mode("overwrite").parquet(s"$dir/inc=$incId/moment")
      graft.MarkerStore.commitInc(spark, dir, incId)
      true
    }
  }

  /** Load a persisted index of any coding: the live generation's model
    * ([[loadModel]]'s bounded driver reads — never a fit, a corpus scan
    * or a footer-inference job; cached per generation) plus homes/codes
    * as the lazy union of the generation and every committed increment
    * above its cover. The returned [[IvfPqIndex]] is NOT persisted to
    * executor storage — callers with a repeated-query workload may
    * .persist() homes/codes themselves (or writeIndex after appends,
    * which re-snapshots). */
  def readIndex(spark: SparkSession, dir: String): IvfPqIndex = {
    ApAggs.register(spark)
    VectorExprs.register(spark)
    val (gen, tail) = graft.MarkerStore.resolve(spark, dir)
    require(gen.nonEmpty, s"index $dir has no committed generation")
    val g = gen.get._1
    val genDir = s"$dir/gen=$g"
    // the STORE FINGERPRINT (gen marker mtime+length) rides the cache
    // entry alongside the generation id (round-21 ADVICE, medium): a
    // store deleted and re-created at the same path restarts gens at 1,
    // and an id-only check would silently serve the OLD store's
    // centroids/codebooks; the re-created marker file's fingerprint
    // differs, so the cache misses and reloads. One driver FS stat per
    // call — the same cost class as the generation resolution itself.
    val fp = graft.MarkerStore.genMarkerFingerprint(spark, dir, g, gen.get._2)
    val model = loadedModels.get(spark, dir) match {
      case Some((cg, cfp, m)) if cg == g && cfp == fp => m
      case _ =>
        val m = loadModel(spark, dir, g)
        loadedModels.put(spark, dir, (g, fp, m))
        m
    }
    // ONE multi-path read per dataset (parts are homogeneous flat
    // parquet): a single file listing for the whole store — the
    // per-part union form cost one inference job per committed
    // increment per readIndex call, a per-micro-batch tax in the
    // semantic ingest sink (round 20, the store-reader finding).
    // Round 21: the EXPLICIT schema kills the remaining footer
    // inference job per relation build (the parts are homogeneous by
    // the store invariant; StoreSchemaSpec pins schema ≡ written).
    def unionOf(name: String, schema: StructType): DataFrame =
      spark.read.schema(schema).parquet(
        (Seq(s"$genDir/$name") ++ tail.map(i => s"$dir/inc=$i/$name")): _*)
    IvfPqIndex(model, unionOf("homes", homesSchema), unionOf("codes", codesSchema))
  }

  /** Per-session cache of the LATEST loaded generation model per index
    * dir (round 21): a marked generation is IMMUTABLE (writeIndex
    * lands `gen=<g>/` then the marker; vacuum only ever deletes
    * superseded generations), so the meta/cents/codebooks (and
    * rotation) driver reads — Spark jobs plus their file listings,
    * re-paid on every readIndex call, i.e. once per ingest micro-batch
    * — can be reused for as long as the live generation id is
    * unchanged. Generation resolution itself stays a per-call driver FS
    * read (MarkerStore), so a refit/redaction/vacuum that advances the
    * generation misses the cache and reloads. One entry per dir (the
    * latest generation) bounds the held codebooks. */
  private[graft] val loadedModels =
    graft.SessionResources.slot[String, (Long, Long, IvfPqModel)]("pq.loadedModel")

  /** Generation `g`'s model: one collect job each for meta, cents and
    * codebooks (plus `rot` for the rotated coding), every read under
    * its declared schema, so a cold load pays no footer inference. */
  private def loadModel(spark: SparkSession, dir: String, g: Long): IvfPqModel = {
    val genDir = s"$dir/gen=$g"
    def read(name: String, schema: StructType) =
      spark.read.schema(schema).parquet(s"$genDir/$name")
    val meta = read("meta", metaSchema).head()
    val (m, k, sub) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val coding = Coding.load(spark, genDir, Option(meta.getString(3)))
    val cents = read("cents", centsSchema)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    val cbRows = read("codebooks", codebooksSchema)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val codebooks = Array.tabulate(m)(b =>
      cbRows.filter(_._1 == b).sortBy(_._2).map(_._3))
    require(codebooks.forall(_.nonEmpty),
      s"index $dir generation $g has an empty codebook block")
    IvfPqModel(cents, Model(m, k, sub, codebooks), coding)
  }

  /** Retire persisted-index data a reader can no longer resolve — the
    * ingest-corpus one-cycle rule: increments at or below the live
    * generation's cover and generations below the live one (both only
    * reachable by a reader that resolved BEFORE the live generation's
    * marker landed, i.e. before the last writeIndex). Increment
    * `_commits` markers never retire — they are the append high-water
    * mark. Returns the retired increment ids.
    *
    * `asOf` (round-19 ADVICE #2): a caller that writeIndexes a snapshot
    * and vacuums IN THE SAME CALL must pass the live (generation,
    * cover) it captured at ENTRY — retiring against the just-written
    * generation would delete the data a reader that resolved moments
    * before the new marker is still scanning (zero-cycle retention,
    * the exact bug shape vacuumUpsertTarget fixed in round 18). With
    * `asOf` the call retires only what was ALREADY superseded when it
    * started; the snapshot it wrote supersedes the rest for the NEXT
    * vacuum. */
  def vacuumIndex(spark: SparkSession, dir: String,
      asOf: Option[(Long, Long)] = None): Seq[Long] = {
    val fs = graft.MarkerStore.fs(spark, dir)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    asOf.orElse(graft.MarkerStore.liveGen(spark, dir)) match {
      case None => Seq.empty
      case Some((live, covered)) =>
        val incs = graft.MarkerStore.committedIncs(spark, dir)
          .filter(_ <= covered).sorted
          .filter(i => fs.exists(path(s"$dir/inc=$i")))
        incs.foreach(i => fs.delete(path(s"$dir/inc=$i"), true))
        graft.MarkerStore.committedGens(spark, dir)
          .filter(_._1 < live)
          .foreach { case (g, c) =>
            fs.delete(path(s"$dir/gen=$g"), true)
            fs.delete(path(s"$dir/_gens/${g}_$c"), false)
          }
        incs
    }
  }

  // ---- IVF-ADC search ---------------------------------------------------
  //
  // Every ivfAdcTopk overload is its index's or model's kernel inputs
  // (ivfAdcInputs, built by Catalyst) scored by [[AdcScan]]. A search
  // over a stored index takes the members' codes from the index; a
  // self-building search encodes this call's corpus. Either way the
  // model's [[Coding]] decides how the members are encoded and how a
  // query becomes its cell vector (its residual against the probed
  // centroid, that residual rotated, or the raw query).

  /** A search's query workload and allowed-id pre-filter ([[idList]]
    * each), applied as semi joins: a duplicated id selects its rows
    * once (round-12 review: an inner join with a duplicated workload id
    * doubled its rows and silently scaled every adc k²×). */
  private final class Workload(queryIds: Option[DataFrame],
      allowedIds: Option[DataFrame]) {
    private val qids = queryIds.map(idList("queryIds", _))
    private val allow = allowedIds.map(idList("allowedIds", _))
    /** The workload's rows only (every row without a workload); the
      * workload is broadcast. */
    def queries(df: DataFrame): DataFrame =
      qids.fold(df)(q => df.join(broadcast(q), Seq("vec_id"), "left_semi"))
    /** Allowed rows only — the pre-filter point: a disallowed id leaves
      * the members before any code of it is scored. Not broadcast, so
      * a half-the-corpus filter need not fit one executor (adaptive
      * execution broadcasts it when it is small). */
    def allowed(df: DataFrame): DataFrame =
      allow.fold(df)(a => df.join(a, Seq("vec_id"), "left_semi"))
  }

  private def assignmentsOf(v: DataFrame, cents: Seq[(Long, Seq[Double])],
      nprobe: Int): DataFrame =
    Ivf.assignments(v, cents, nprobe, (a, b) => call_function("vec_sqdist", a, b))

  /** Query cells (i, c_id, qv) — each probing query once per probed cell
    * — from `probes` (vec_id, c_id) and the query vectors `qv` (vec_id,
    * v), in the model's coding. */
  private def cellsOf(qv: DataFrame, probes: DataFrame, model: IvfPqModel): DataFrame =
    model.coding.cells(probes.select(col("vec_id").as("i"), col("c_id"))
      .join(qv.select(col("vec_id").as("i"), col("v")), "i"), model)

  /** Members (c_id, vec_id, b, code): the searchable homes with their
    * codes. */
  private def membersOf(homes: DataFrame, codes: DataFrame): DataFrame =
    homes.join(codes, "vec_id").select("c_id", "vec_id", "b", "code")

  /** Inputs of a SELF-BUILDING search over the normalized corpus `v`:
    * ONE assignment pass gives both the homes (crnk 1) and the
    * workload's probes (crnk ≤ nprobe) — crnk 1 of the nprobe pass is
    * bit-identical to a dedicated homes pass — and the members' codes
    * are the coding's encode of the allowed vectors and homes, so only
    * allowed rows encode. */
  private def builtInputs(v: DataFrame, nprobe: Int,
      queryIds: Option[DataFrame], allowedIds: Option[DataFrame],
      model: IvfPqModel): AdcScan.Inputs = {
    ApAggs.register(v.sparkSession)
    VectorExprs.register(v.sparkSession)
    val w = new Workload(queryIds, allowedIds)
    val assigned = assignmentsOf(v, model.cents, nprobe)
    val homes = w.allowed(assigned.filter(col("crnk") === 1)
      .select(col("vec_id"), col("c_id")))
    AdcScan.Inputs(
      cellsOf(w.queries(v), w.queries(assigned), model),
      membersOf(homes, model.coding.encode(w.allowed(v), homes, model)),
      model.pq, model.cents.size)
  }

  /** IVFADC over a MATERIALIZED/persisted index of any coding — the
    * repeated-query production path: only the QUERY side computes per
    * call (the workload's assignment over M rows and its cells); the
    * corpus-side homes and codes come from the index storage (round-13
    * review: the model-only cache still re-paid the O(N·c) assignment
    * and the O(N·m) re-encode per call). Same rows as the
    * self-building overload — assignment is per-row independent, so a
    * workload-restricted pass ranks each query identically. Returns
    * (i, k_id, adc, rnk). */
  def ivfAdcTopk(vecs: DataFrame, vecCol: String, idx: IvfPqIndex, topk: Int,
      nprobe: Int, idCol: String, queryIds: Option[DataFrame],
      allowedIds: Option[DataFrame]): DataFrame =
    AdcScan.topk(ivfAdcInputs(vecs, vecCol, idx, nprobe, idCol, queryIds,
      allowedIds), topk)

  private[graft] def ivfAdcInputs(vecs: DataFrame, vecCol: String,
      idx: IvfPqIndex, nprobe: Int, idCol: String,
      queryIds: Option[DataFrame], allowedIds: Option[DataFrame]): AdcScan.Inputs = {
    ApAggs.register(vecs.sparkSession)
    VectorExprs.register(vecs.sparkSession)
    val w = new Workload(queryIds, allowedIds)
    val qv = w.queries(normalize(vecs, vecCol, idCol))
    val model = idx.model
    AdcScan.Inputs(
      cellsOf(qv, assignmentsOf(qv, model.cents, nprobe), model),
      membersOf(w.allowed(idx.homes), idx.codes), model.pq, model.cents.size)
  }

  /** Unfiltered shape of the index-tier search (pre-allowedIds callers). */
  def ivfAdcTopk(vecs: DataFrame, vecCol: String, idx: IvfPqIndex, topk: Int,
      nprobe: Int, idCol: String, queryIds: Option[DataFrame]): DataFrame =
    ivfAdcTopk(vecs, vecCol, idx, topk, nprobe, idCol, queryIds, None)

  /** IVFADC self-search over a fitted model of any coding — the
    * production composition (faiss's IVFADC layering; residual
    * encoding by default, round-12 VERDICT #1). Same cells as the
    * raw-model overload (one assignment pass; a query meets the members
    * of its nprobe cells — expected nprobe·N/c per query, never N²);
    * the members encode in the model's coding and each (query, probed
    * cell) scores against the lookup table of the query's cell vector.
    * Approximation contract unchanged: candidate coverage is the IVF
    * trade (tunable via nprobe); ADC values on surviving pairs equal
    * the driver's residual-LUT arithmetic exactly (PqSpec pins both).
    * Returns (i, k_id, adc, rnk). `queryIds` restricts the probing
    * workload as in the raw overload (single id column, duplicates
    * collapsed). */
  def ivfAdcTopk(vecs: DataFrame, vecCol: String, im: IvfPqModel, topk: Int,
      nprobe: Int, idCol: String, queryIds: Option[DataFrame],
      allowedIds: Option[DataFrame]): DataFrame =
    AdcScan.topk(ivfAdcInputs(vecs, vecCol, im, nprobe, idCol, queryIds,
      allowedIds), topk)

  private[graft] def ivfAdcInputs(vecs: DataFrame, vecCol: String,
      im: IvfPqModel, nprobe: Int, idCol: String,
      queryIds: Option[DataFrame], allowedIds: Option[DataFrame]): AdcScan.Inputs =
    builtInputs(normalize(vecs, vecCol, idCol), nprobe, queryIds, allowedIds, im)

  /** Unfiltered shape of the self-building model search. */
  def ivfAdcTopk(vecs: DataFrame, vecCol: String, im: IvfPqModel, topk: Int,
      nprobe: Int, idCol: String, queryIds: Option[DataFrame]): DataFrame =
    ivfAdcTopk(vecs, vecCol, im, topk, nprobe, idCol, queryIds, None)

  /** RAW-model IVFADC self-search — IVF bucket candidates, then ADC of
    * the candidate pairs ONLY, with PQ codes of the RAW vectors
    * (Jégou et al. 2011 §V's layering). Since round 13 the production
    * path is the RESIDUAL overload above (recall at the same bit
    * budget); this form stays for models trained independently of any
    * centroid set — e.g. the OPQ-rotated composition, where the caller
    * rotates first and the codes must stay centroid-free.
    *
    * Stages, all subquadratic:
    *   1. centroids: deterministic farthest-point seeds over a bounded
    *      sample (+ euclidean Lloyd refinement past the two-level
    *      gate — the [[Ivf]] disciplines, auto-sized c = Θ(√N));
    *   2. ONE assignment pass ([[Ivf.assignments]], nprobe kept ranks):
    *      crnk 1 is each point's HOME bucket (where it is indexed),
    *      crnk 1..nprobe are the buckets it PROBES as a query;
    *   3. the kernel's inputs: query cells (one row per probing query
    *      and probed bucket) and members (homes with their codes);
    *   4. [[AdcScan]]: cells and members meet by bucket; each
    *      (query, bucket) builds the query's m×k lookup table once and
    *      scores every other member of the bucket from it (expected
    *      nprobe·N/c candidates per query, never N²) — the right trade
    *      whenever candidates/query ≫ k, which c = √(8N) guarantees at
    *      scale;
    *   5. per query, the best `topk` under (adc ASC, id ASC) — block-
    *      ordered sums, so values equal the exhaustive kernel's.
    *
    * Approximation contract: recall loss vs [[adcTopk]] comes ONLY
    * from pairs whose home bucket the query does not probe (the
    * standard IVF trade, tunable via nprobe); ADC values on surviving
    * pairs are IDENTICAL to the exhaustive kernel's (PqSpec pins
    * both — at nprobe = c the rows are the exhaustive rows). Exact
    * rerank on the survivors is one join away, as with every candidate
    * kernel in this engine. Returns (i, k_id, adc, rnk).
    *
    * `queryIds` (optional, one long-castable column): restrict the
    * QUERY side to a workload — the corpus is still fully indexed and
    * searched, but only those ids probe and appear as `i`. The
    * production shape: M queries against an N-row corpus costs
    * M·(nprobe·N/c) candidate work, not N·(…). Self-matches stay
    * excluded.
    *
    * The assignment frame feeds both kernel inputs (homes + probes)
    * without materialization — deliberately: the expensive distance
    * work sits BELOW the per-vec ranking exchange in every assignment
    * regime (map-side in the flat crossJoin; partial-aggregate in the
    * two-level/tree ap_topm forms), and both inputs are planned as one
    * query, so Catalyst's ReusedExchange serves the second branch from
    * the first one's shuffle. */
  def ivfAdcTopk(vecs: DataFrame, vecCol: String, model: Model, topk: Int,
      centroids: Int = 0, nprobe: Int = 8, idCol: String = "vec_id",
      queryIds: Option[DataFrame] = None,
      allowedIds: Option[DataFrame] = None): DataFrame =
    AdcScan.topk(ivfAdcInputs(vecs, vecCol, model, centroids, nprobe, idCol,
      queryIds, allowedIds), topk)

  private[graft] def ivfAdcInputs(vecs: DataFrame, vecCol: String,
      model: Model, centroids: Int, nprobe: Int, idCol: String,
      queryIds: Option[DataFrame], allowedIds: Option[DataFrame]): AdcScan.Inputs = {
    val v = normalize(vecs, vecCol, idCol)
    val c = if (centroids > 0) centroids else Ivf.autoCentroids(v.count())
    builtInputs(v, nprobe, queryIds, allowedIds,
      IvfPqModel(Ivf.buildCentroids(v, c), model, Coding.Raw))
  }

  /** IVFADC + exact re-rank — the faiss `refine` stage completing the
    * production pipeline: an ADC-approximate shortlist from
    * [[ivfAdcTopk]] (`shortlist` ≥ topk pairs per query), then TRUE
    * sqdist evaluated on the shortlist pairs only (|Q|·shortlist
    * vector reads — bounded, never N²) and re-ranked with the same
    * deterministic bounded tail. Returns (i, k_id, sqdist, rnk) with
    * EXACT distances — quantization error is gone from both the values
    * and the ordering; only candidate coverage (IVF buckets ∩ the ADC
    * shortlist) still bounds recall, so recall@k is monotone in
    * `shortlist` and `nprobe`. */
  def ivfAdcRerankTopk(vecs: DataFrame, vecCol: String, model: Model,
      topk: Int, shortlist: Int = 50, centroids: Int = 0, nprobe: Int = 8,
      idCol: String = "vec_id", queryIds: Option[DataFrame] = None): DataFrame =
    reranked(vecs, vecCol, idCol, topk, shortlist)(v =>
      ivfAdcTopk(v, "v", model, shortlist, centroids, nprobe, "vec_id", queryIds))

  /** [[ivfAdcRerankTopk]] over a materialized index of any coding: ADC
    * shortlist from the indexed search, true sqdist on the shortlist
    * pairs only. */
  def ivfAdcRerankTopk(vecs: DataFrame, vecCol: String, idx: IvfPqIndex,
      topk: Int, shortlist: Int, nprobe: Int, idCol: String,
      queryIds: Option[DataFrame]): DataFrame =
    reranked(vecs, vecCol, idCol, topk, shortlist)(v =>
      ivfAdcTopk(v, "v", idx, shortlist, nprobe, "vec_id", queryIds))

  /** [[ivfAdcRerankTopk]] over a fitted model of any coding: ADC
    * shortlist from the self-building [[ivfAdcTopk]], then TRUE sqdist
    * on the shortlist pairs only. */
  def ivfAdcRerankTopk(vecs: DataFrame, vecCol: String, im: IvfPqModel,
      topk: Int, shortlist: Int, nprobe: Int, idCol: String,
      queryIds: Option[DataFrame]): DataFrame =
    reranked(vecs, vecCol, idCol, topk, shortlist)(v =>
      ivfAdcTopk(v, "v", im, shortlist, nprobe, "vec_id", queryIds))

  /** The exact re-rank tail of every rerank overload: the `shortlisted`
    * (i, k_id) pairs of the normalized corpus, true sqdist on those
    * pairs only, bounded ap_topm per query. */
  private def reranked(vecs: DataFrame, vecCol: String, idCol: String,
      topk: Int, shortlist: Int)(shortlisted: DataFrame => DataFrame): DataFrame = {
    require(shortlist >= topk,
      s"ivfAdcRerankTopk: shortlist=$shortlist < topk=$topk")
    val spark = vecs.sparkSession
    ApAggs.register(spark)
    VectorExprs.register(spark)
    val v = normalize(vecs, vecCol, idCol)
    shortlisted(v)
      .select(col("i"), col("k_id"))
      .join(v.select(col("vec_id").as("k_id"), col("v").as("kv")), "k_id")
      .join(v.select(col("vec_id").as("i"), col("v").as("qv")), "i")
      .select(col("i"), col("k_id"),
        (-call_function("vec_sqdist", col("qv"), col("kv"))).as("negd"))
      .groupBy("i")
      .agg(call_function("ap_topm", col("negd"), col("k_id"), lit(topk)).as("keep"))
      .select(col("i"), posexplode(col("keep")).as(Seq("pos", "e")))
      .select(col("i"), col("e.k").as("k_id"), (-col("e.s")).as("sqdist"),
        (col("pos") + lit(1)).as("rnk"))
  }

  /** OPQ-over-residuals: the faiss OPQ+IVFADC composition (round-13
    * VERDICT #3) — coarse centroids exactly as the residual index, but
    * the PQ quantizes ROTATED residuals: R·(r − μ_r) with R the
    * eigenvalue-balanced orthogonal basis of the RESIDUAL distribution
    * (not the raw vectors' — the rotation is learned on exactly the
    * distribution the codebooks quantize, which is OPQ's point). R is
    * orthogonal, so ‖R(qr−μ)−R(rx−μ)‖² = ‖qr−rx‖² and the ADC
    * approximates the same original-space sqdist as the unrotated
    * residual index; what changes is WHERE the quantization error
    * lands — the balanced permutation equalizes the m blocks'
    * Σ log λ so no single codebook carries the variance. Train: shared
    * centroid recipe → residual relation → PCA of the residuals →
    * balanced permutation → standard [[fit]] on the rotated residual
    * frame; the model's coding is [[Coding.Rotated]]. Costs one extra
    * codegen'd d×d projection per encoded row and per query cell over
    * the unrotated index. */
  def fitIvfPqRotated(vecs: DataFrame, vecCol: String, m: Int = 8,
      k: Int = 256, centroids: Int = 0, sampleN: Int = 8192,
      lloydIters: Int = 4, idCol: String = "vec_id"): IvfPqModel = {
    val spark = vecs.sparkSession
    ApAggs.register(spark)
    VectorExprs.register(spark)
    val v = normalize(vecs, vecCol, idCol)
    val c = if (centroids > 0) centroids else Ivf.autoCentroids(v.count())
    val cents = Ivf.buildCentroids(v, c)
    fitRotatedFrom(v, cents, m, k, sampleN, lloydIters)
  }

  /** The rotated-residual fit TAIL shared by [[fitIvfPqRotated]] and
    * [[fitIvfPqAuto]] (one recipe, two entry points — review round 15:
    * a duplicated tail would let the auto-picked index silently drift
    * from the directly-fit one): residuals against the GIVEN centroids,
    * PCA on the residual distribution, eigenvalue-balanced block
    * permutation, rotated codebook fit. */
  private def fitRotatedFrom(v: DataFrame, cents: Seq[(Long, Seq[Double])],
      m: Int, k: Int, sampleN: Int, lloydIters: Int): IvfPqModel = {
    val res = residuals(v, cents)
    val pca = Pca.fit(res, "rv")
    val perm = balancedPermutation(pca.eigenvalues, m)
    val rot = res.select(col("vec_id"),
      rotateExpr(col("rv"), pca, perm).as("rv"))
    IvfPqModel(cents, fit(rot, "rv", m, k, sampleN, lloydIters),
      Coding.Rotated(pca, perm))
  }

  // ---- index auto-selection (round-14 VERDICT #5) --------------------

  /** The chooser's trained model — [[Coding.Raw]] or [[Coding.Rotated]]
    * over the probe's own centroids — plus the probe statistics that
    * drove the pick (`explained` / `momentCv`, surfaced for audit).
    * Search it, index it or persist it like any [[IvfPqModel]]. */
  final case class AutoIndex(model: IvfPqModel, explained: Double,
      momentCv: Double)

  /** Fit with AUTO-SELECTED variant (round-14 VERDICT #5 — faiss users
    * get per-corpus index choice for free; BENCH_NOTES §28 measured the
    * regimes): a cheap probe on the SAME bounded hash-spread sample the
    * codebook fit uses decides between
    *
    *   - RAW PQ (flat codebooks, no centroid subtraction): right when
    *     the corpus is ISOTROPIC at the centroid scale — centroid
    *     subtraction removes (almost) nothing and the OPQ rotation is
    *     information-free there (§28: raw 0.552 vs opq+residual 0.540
    *     on the isotropic fixture — the regression this chooser closes);
    *   - OPQ-over-residuals: strictly ≥ BOTH parents on every measured
    *     inhomogeneous fixture (clustered 0.824, zipf heavy-tail 0.369),
    *     so residual-only is never the pick.
    *
    * Probe statistics (driver-side over the ≤ sampleN sample — the
    * centroid relation is built once and REUSED by either fit and
    * carried in the model, so the probe adds no distributed pass):
    *
    *   explained = 1 − E‖x − centroid(x)‖² / E‖x − μ‖²   (the k-means
    *     explained-variance ratio: ≈ 0 on isotropic data, → 1 on
    *     separated clusters), and
    *   momentCv = coefficient of variation of PER-CENTROID mean
    *     residual second moments (the verdict's homogeneity probe:
    *     heteroscedastic clusters — the zipf tail — show high CV even
    *     when explained variance alone is equivocal).
    *
    * Decision: rotated iff explained ≥ 0.15 OR momentCv ≥ 0.5.
    * Calibration (measured on the §28 fixtures, round 14): isotropic explained = 0.000 with CV = 0.019; clustered
    * explained = 0.978; zipf explained = 0.193 with CV = 0.903 — each
    * regime clears at least one threshold by a wide margin (zipf's
    * heteroscedastic tail is what the CV disjunct exists for), and the
    * measured auto recall equals max(parents) on every fixture row
    * (raw 0.552 isotropic, 0.824 clustered, 0.369 zipf). */
  def fitIvfPqAuto(vecs: DataFrame, vecCol: String, m: Int = 8,
      k: Int = 256, centroids: Int = 0, sampleN: Int = 8192,
      lloydIters: Int = 4, idCol: String = "vec_id"): AutoIndex = {
    val spark = vecs.sparkSession
    ApAggs.register(spark)
    VectorExprs.register(spark)
    val v = normalize(vecs, vecCol, idCol)
    val c = if (centroids > 0) centroids else Ivf.autoCentroids(v.count())
    val cents = Ivf.buildCentroids(v, c)
    // the fit's exact sample recipe (hash-spread, content-hash tiebreak)
    val sample = v.orderBy(xxhash64(col("vec_id")), col("vec_id"),
        xxhash64(col("v")))
      .limit(sampleN).collect()
      .map(r => r.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "Pq.fitIvfPqAuto: empty input")
    val d = sample(0).length
    val ca = cents.map(_._2.toArray).toArray
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    // nearest-centroid residual energies, grouped per centroid
    val perCent = new java.util.HashMap[Int, (Double, Long)]()
    var resE = 0.0
    val mu = new Array[Double](d)
    sample.foreach { x =>
      var bi = 0; var bd = Double.PositiveInfinity
      var ci = 0
      while (ci < ca.length) {
        val dd = sq(x, ca(ci)); if (dd < bd) { bd = dd; bi = ci }; ci += 1
      }
      resE += bd
      val prev = perCent.getOrDefault(bi, (0.0, 0L))
      perCent.put(bi, (prev._1 + bd, prev._2 + 1))
      var j = 0
      while (j < d) { mu(j) += x(j); j += 1 }
    }
    val n = sample.length
    var j = 0
    while (j < d) { mu(j) /= n; j += 1 }
    val totE = sample.map(x => sq(x, mu)).sum
    val explained =
      if (totE <= 0.0) 0.0 else math.max(0.0, 1.0 - resE / totE)
    val moments = {
      import scala.jdk.CollectionConverters._
      perCent.values.asScala.toSeq.collect {
        case (e, cnt) if cnt > 0 => e / cnt
      }
    }
    val momentCv =
      if (moments.size < 2) 0.0
      else {
        val mm = moments.sum / moments.size
        if (mm <= 0.0) 0.0
        else math.sqrt(
          moments.map(x => (x - mm) * (x - mm)).sum / moments.size) / mm
      }
    if (explained >= 0.15 || momentCv >= 0.5)
      // rotated fit REUSING the probe's centroids (no second build) —
      // the same tail fitIvfPqRotated runs, via the shared helper
      AutoIndex(fitRotatedFrom(v, cents, m, k, sampleN, lloydIters),
        explained, momentCv)
    else
      // raw codes; the probe's centroids pick the cells, so neither a
      // search nor an index of this model rebuilds them
      AutoIndex(IvfPqModel(cents, fit(v, "v", m, k, sampleN, lloydIters),
        Coding.Raw), explained, momentCv)
  }
}

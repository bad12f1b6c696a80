package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.kernel.{Filter, Signal}

/** Declarative per-metric preprocessing registry — the Spark re-expression
  * of the reference's operation registry + generic evaluator
  * (/root/reference/xcorr/stream/process.py:29-94 registry,
  * 199-297 apply_operation, 300-412 process fold, 557-614 JSON+sha256).
  *
  * A config is an ordered list of (opName, params) applied per metric; it
  * JSON-serializes canonically and sha256-hashes so jobs can revalidate
  * that stored data was produced by the same preprocessing — exactly the
  * reference's hash-gated reuse (process.py:569-586,
  * /root/reference/xcorr/core/process.py:68-73).
  *
  * Each op is a DataFrame→DataFrame stage over the long-form series schema
  * (conv_id, metric, ts, value); all are built-in-Catalyst expressions
  * (window functions / aggregates), no UDFs.
  */
object Preprocess {

  type Op = (DataFrame, Map[String, String]) => DataFrame

  private def keyWindow = Window.partitionBy(col("conv_id"), col("metric"))
  private def orderedKeyWindow = keyWindow.orderBy(col("ts"))

  /** Registry (↔ process.py:29-94). Op semantics map per SURVEY.md §2.2. */
  val registry: Map[String, Op] = Map(
    // subtract the per-key mean (↔ obspy detrend 'demean')
    "demean" -> ((df, _) =>
      df.withColumn("value", col("value") - avg(col("value")).over(keyWindow))),
    // remove the per-key least-squares linear trend (detrend 'linear');
    // closed-form via the regr_* aggregates — two passes fused by Catalyst
    "detrend" -> ((df, _) => {
      val t = unix_micros(col("ts").cast("timestamp")).cast("double") / 1e6
      df.withColumn("slope", expr("regr_slope(value, cast(unix_micros(cast(ts as timestamp)) as double) / 1e6)").over(keyWindow))
        .withColumn("icept", expr("regr_intercept(value, cast(unix_micros(cast(ts as timestamp)) as double) / 1e6)").over(keyWindow))
        .withColumn("value", col("value") - (col("slope") * t + col("icept")))
        .drop("slope", "icept")
    }),
    // scale to max |amplitude| (↔ normalize op)
    "normalize" -> ((df, _) => {
      val m = max(abs(col("value"))).over(keyWindow)
      df.withColumn("value", when(m === 0, col("value")).otherwise(col("value") / m))
    }),
    // keep [starttime, endtime) (↔ trim, params injected like the
    // reference's dynamic starttime/endtime injection process.py:153-196)
    "trim" -> ((df, p) =>
      df.where(col("ts") >= lit(p("starttime")).cast("timestamp_ntz") &&
        col("ts") < lit(p("endtime")).cast("timestamp_ntz"))),
    // metric subset (↔ select channel)
    "select" -> ((df, p) => df.where(col("metric") === p("metric"))),
    // non-overlapping windowed RMS, re-rates the series to 1/window
    // (↔ running_rms, /root/reference/xcorr/stream/running_rms.py:19-115)
    "running_rms" -> ((df, p) => {
      val w = p.getOrElse("window", "3600").toLong
      df.groupBy(col("conv_id"), col("metric"),
          expr(s"timestamp_seconds((unix_micros(cast(ts as timestamp)) div ${w * 1000000L}) * $w)").as("ts"))
        .agg(sqrt(avg(col("value") * col("value"))).as("value"))
    }),
    // decimate: keep every k-th grid point per key (AA filtering is the
    // caller's job via a prior kernel stage, as in the reference)
    "decimate" -> ((df, p) => {
      val k = p.getOrElse("factor", "2").toInt
      df.withColumn("rn", row_number().over(orderedKeyWindow) - 1)
        .where(pmod(col("rn"), lit(k)) === 0)
        .drop("rn")
    }),
    // clip values into [min, max]
    "clip" -> ((df, p) => {
      val lo = p.getOrElse("min", "-Infinity").toDouble
      val hi = p.getOrElse("max", "Infinity").toDouble
      df.withColumn("value", least(greatest(col("value"), lit(lo)), lit(hi)))
    }),
    // |x|
    "absolute" -> ((df, _) => df.withColumn("value", abs(col("value")))),
    // Butterworth zero-phase filter (↔ registry 'filter', process.py:42-45 —
    // obspy bandpass/highpass/lowpass/bandstop; zero-phase sosfiltfilt like
    // the reference's signal-layer filter, filter.py:27-120). Params:
    // btype/type, order, freq (lp/hp) or freqmin+freqmax (bp/bs). The grid
    // rate comes from the series itself (regular by construction).
    "filter" -> ((df, p) => {
      val btype = p.getOrElse("btype", p.getOrElse("type", "bandpass"))
      val order = p.getOrElse("order", "2").toInt
      perKeyKernel(df) { (ts, vs) =>
        if (vs.length < 2) (ts, vs)
        else {
          val fs = 1e6 / (ts(1) - ts(0))
          val wn = btype match {
            case "lowpass" | "highpass" => Array(p("freq").toDouble / (fs / 2))
            case _ => Array(p("freqmin").toDouble / (fs / 2), p("freqmax").toDouble / (fs / 2))
          }
          (ts, Filter.sosfiltfilt(Filter.butter(order, wn, btype), vs))
        }
      }
    }),
    // edge taper (↔ registry 'taper', process.py:82-85; any window family
    // like the reference's scipy passthrough, window.py:27-116). Params:
    // max_percentage (of length, capped 0.5), max_length (seconds),
    // window (hann default), window_param (tukey alpha / kaiser beta).
    "taper" -> ((df, p) => {
      val pct = p.getOrElse("max_percentage", "0.05").toDouble
      val maxLenSec = p.get("max_length").map(_.toDouble)
      val win = p.getOrElse("window", "hann")
      val winParam = p.get("window_param").map(_.toDouble).getOrElse(Double.NaN)
      perKeyKernel(df) { (ts, vs) =>
        val maxLen = maxLenSec match {
          case Some(sec) if vs.length >= 2 => math.max((sec * 1e6 / (ts(1) - ts(0))).toInt, 1)
          case Some(_)                     => 1
          case None                        => -1
        }
        (ts, Signal.taper(vs, pct, maxLen, win, winParam))
      }
    }),
    // Lanczos windowed-sinc resample onto a new regular grid (↔ registry
    // 'interpolate'/'resample', process.py:46-49,66-69 — obspy
    // lanczos_interpolation). Params: step (target grid step, seconds),
    // a (sinc lobes, default 3).
    "interpolate" -> resampleOp,
    "resample" -> resampleOp
  )

  private def resampleOp: Op = (df, p) => {
    val dstStepUs = (p("step").toDouble * 1e6).toLong
    val a = p.getOrElse("a", "3").toInt
    perKeyKernel(df) { (ts, vs) =>
      // A 1-point key has no src step to resample against: emit the point
      // iff it already sits on the ceil-aligned dst grid (where the kernel
      // below would reproduce it exactly — sinc(0)=1), else nothing
      // (newT0 > t1) — mirroring the grid arithmetic the q69 oracle replays.
      if (vs.length == 1) {
        if (ts(0) % dstStepUs == 0) (ts, vs)
        else (Array.empty[Long], Array.empty[Double])
      } else if (vs.isEmpty) (ts, vs)
      else {
        val srcStepUs = ts(1) - ts(0)
        val t0 = ts(0)
        val t1 = ts(ts.length - 1)
        val newT0 = ((t0 + dstStepUs - 1) / dstStepUs) * dstStepUs // ceil-align to the dst grid
        val nOut = math.max(((t1 - newT0) / dstStepUs + 1).toInt, 0)
        val out = Signal.lanczosResample(
          vs, ratio = dstStepUs.toDouble / srcStepUs,
          offsetSamples = (newT0 - t0).toDouble / srcStepUs, nOut = nOut, a = a)
        (Array.tabulate(nOut)(j => newT0 + j * dstStepUs), out)
      }
    }
  }

  /** Run an array kernel over each (conv_id, metric)'s time-sorted series —
    * the Spark shape of the reference's per-trace kernel dispatch
    * (process.py:199-297): group → sorted vector → kernel → explode back.
    * The unit of work is one conversation's series, exactly the reference's
    * per-trace day-file arrays; task memory is bounded by the longest
    * single conversation, never the table.
    */
  private def perKeyKernel(df: DataFrame)(
      f: (Array[Long], Array[Double]) => (Array[Long], Array[Double])): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("conv_id"), col("metric"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("value"))
      .as[(String, String, Long, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (String, String), it: Iterator[(String, String, Long, Double)]) =>
        val (cid, met) = key
        val buf = it.toArray.sortBy(_._3)
        val ts = new Array[Long](buf.length)
        val vs = new Array[Double](buf.length)
        var i = 0
        while (i < buf.length) { ts(i) = buf(i)._3; vs(i) = buf(i)._4; i += 1 }
        val (ts2, vs2) = f(ts, vs)
        ts2.indices.iterator.map(j => (cid, met, ts2(j), vs2(j)))
      }
      .toDF("conv_id", "metric", "us", "value")
      .select(col("conv_id"), col("metric"),
        expr("timestamp_micros(us)").as("ts"), col("value"))
  }

  /** Fold an op list over the series (↔ process.py:300-412). Unknown ops
    * fail fast, mirroring the reference's registry check (process.py:237).
    */
  def apply(series: DataFrame, ops: Seq[(String, Map[String, String])]): DataFrame =
    ops.foldLeft(series) { case (df, (name, params)) =>
      val op = registry.getOrElse(name,
        throw new IllegalArgumentException(s"unknown preprocess operation '$name'"))
      op(df, params)
    }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns carrying a typed metadata struct, flowing through ordinary
  * DataFrame operators (filter/join/partition) without interpreting bytes.
  *
  * The Spark-side machinery — schema, batch shape, partition-friendliness —
  * is real and tested. The actual codec step is STUBBED: the container has
  * no image/audio libraries, so [[decodeImageStub]] derives deterministic
  * fake dimensions from the payload bytes. Swapping the stub for a real
  * decoder (e.g. a JNI codec or a Python worker via mapInArrow) changes ONE
  * expression, none of the plumbing.
  */
object Multimodal {

  /** Media schema convention: payload + (format, width, height, n_frames,
    * sample_rate) struct. */
  def withMediaStruct(df: DataFrame, payload: Column, format: Column): DataFrame =
    df.withColumn("media", struct(
      payload.as("payload"),
      format.as("format"),
      length(payload).as("size_bytes")))

  /** STUB decode — deterministic fake: "dimensions" derived from byte
    * length and first payload byte. Replace with a real codec; the
    * signature (binary → struct) is the contract. */
  def decodeImageStub(payload: Column): Column = struct(
    (pmod(length(payload), lit(640)) + 1).as("width"),
    (pmod(length(payload) * 7, lit(480)) + 1).as("height"),
    lit("fakeimg").as("codec"))

  /** Frame sampling plan for video payloads: every `stride`-th frame index
    * up to n_frames — pure plan computation, runs before any decode so at
    * scale only the selected frames are ever decoded. */
  def frameSamplePlan(nFrames: Column, stride: Int): Column =
    filter(sequence(lit(0), nFrames - 1), i => i % stride === 0)

  /** Partition media rows into size classes so large payloads don't skew
    * task runtimes: returns a bucketing column for repartitionByRange. */
  def sizeClass(payload: Column): Column =
    when(length(payload) < 1024, "s")
      .when(length(payload) < 1024 * 1024, "m")
      .otherwise("l")

  /** STUB frame energy for audio payloads: the first md5 byte of the
    * frame's bytes (0–255) — deterministic fake standing in for RMS
    * energy, same contract as [[decodeImageStub]] (a real deployment
    * swaps ONE expression: decoded-PCM RMS for the hash). `text` is the
    * payload's character view — the testdata corpus is pure ASCII
    * (char length ≡ byte length at every SF, checked), which is what
    * lets the oracle slice the same frames in an engine without BLOB
    * substring/md5. */
  def frameEnergyStub(text: Column, frame: Column, frameBytes: Int): Column =
    conv(substring(md5(text.substr(frame * frameBytes + 1, lit(frameBytes))),
                   1, 2), 16, 10).cast("int")

  /** X155 core — VAD segmentation PLAN over audio payloads: payload →
    * fixed-size frame grid → per-frame (stub) energy → speech frames
    * (energy ≥ threshold) → maximal consecutive runs via gaps-and-islands
    * (the x13 sessionize device on the frame axis). Like
    * [[frameSamplePlan]], this runs BEFORE any decode: at scale the plan
    * tells the codec which byte ranges to decode, so silence is never
    * decoded at all. Dataflow: per-row frame explode (linear, map-side),
    * one exchange keyed by `idCol`; windows partition by document — the
    * group is bounded by payload length, never corpus size. Output: one
    * row per speech segment (idCol, seg_id, seg_start, seg_end,
    * n_frames, e_max). */
  def vadPlan(df: DataFrame, idCol: String, textCol: String,
              frameBytes: Int = 40, threshold: Int = 128): DataFrame = {
    require(frameBytes >= 1 && threshold >= 0 && threshold <= 256,
      s"vadPlan: bad args frameBytes=$frameBytes threshold=$threshold")
    import org.apache.spark.sql.expressions.Window
    val nf = greatest(lit(1L),
      ((length(col(textCol)) + (frameBytes - 1)) / frameBytes)
        .cast("long"))
    val frames = df
      .select(col(idCol), col(textCol).as("_t"),
              explode(sequence(lit(0L), nf - 1)).as("f"))
      .withColumn("energy", frameEnergyStub(col("_t"), col("f"), frameBytes))
      .filter(col("energy") >= threshold)
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("f"))
    val seg = frames
      .withColumn("_grp", col("f") - row_number().over(wDoc))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("f")).as("seg_start"), max(col("f")).as("seg_end"),
           count(lit(1)).as("n_frames"), max(col("energy")).as("e_max"))
    seg
      .withColumn("seg_id", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("seg_start"))).cast("long"))
      .select(col(idCol), col("seg_id"), col("seg_start"), col("seg_end"),
              col("n_frames"), col("e_max"))
  }
}

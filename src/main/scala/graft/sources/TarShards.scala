package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Trainer-feed shard packing: group named blobs into byte-exact ustar
  * shards ([[TarArchive]]) with a replayable member index — the stage
  * between curation and the trainer's sequential shard reads (the public
  * WebDataset convention).
  *
  * Scale shape: shard assignment is per-BUCKET, not global — members are
  * content-addressed (salted md5 of the name), the first two hex chars
  * pick one of 256 buckets, and the running-footprint window that turns
  * order into shard numbers is PARTITIONED BY bucket, so the one
  * inherently sequential step (a cumulative sum) parallelizes 256 ways
  * and no global sort exists anywhere. Assignment is pure column
  * arithmetic (integer DIV over octal-free footprints), which is what
  * makes the whole layout SQL-replayable (q167). Packing a shard
  * materializes only that shard's members in one task — bounded by
  * `targetShardBytes` plus one boundary member, the deliberate
  * memory-per-task contract (a member larger than the target still
  * packs, alone in its shard). */
object TarShards {

  /** Deterministic assignment: (shard_id, ord, name, bytes) per member.
    * shard_id = "<2-hex-bucket>-<local shard number>". */
  private def assign(blobs: DataFrame, nameCol: String, bytesCol: String,
      targetShardBytes: Long, salt: String): DataFrame = {
    require(targetShardBytes >= TarArchive.TerminatorBytes,
      s"targetShardBytes must be at least ${TarArchive.TerminatorBytes}")
    // __content breaks order ties between DUPLICATE names (same name →
    // same __ord): with it, members carrying identical (name, bytes) are
    // interchangeable and members differing only in bytes get a
    // deterministic content-hash order — so packing stays byte-
    // deterministic even on degenerate inputs with repeated names.
    val w = Window.partitionBy(col("__prefix"))
      .orderBy(col("__ord"), col("__content"))
      .rowsBetween(Window.unboundedPreceding, -1)
    blobs
      .select(col(nameCol).as("__name"), col(bytesCol).as("__bytes"),
        md5(concat(lit(s"$salt|"), col(nameCol))).as("__ord"),
        md5(col(bytesCol)).as("__content"))
      .withColumn("__prefix", substring(col("__ord"), 1, 2))
      .withColumn("__entry",
        expr("512 + ((length(__bytes) + 511) DIV 512) * 512"))
      .withColumn("__start", coalesce(sum(col("__entry")).over(w), lit(0L)))
      .select(
        concat(col("__prefix"), lit("-"),
          expr(s"CAST(__start DIV $targetShardBytes AS STRING)")).as("shard_id"),
        col("__ord"), col("__content").as("__tie"), col("__name"), col("__bytes"))
  }

  /** Encode stage shared by [[pack]] and [[packPaired]]: `assigned` has
    * (shard_id, __ord, __tie, __name, __bytes); members of a shard are
    * written in (__ord, __tie) order — the same order the assignment
    * window used, so offsets line up. */
  private def packAssigned(assigned: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("shard_id", StringType),
      StructField("n_members", IntegerType),
      StructField("shard_bytes", BinaryType)))
    assigned
      .groupBy(col("shard_id"))
      // sort_array orders the structs field-by-field (__ord, then __tie)
      .agg(sort_array(collect_list(struct(col("__ord"), col("__tie"),
        col("__name"), col("__bytes")))).as("__members"))
      .mapPartitions { it =>
        it.map { r =>
          val members = r.getAs[scala.collection.Seq[Row]]("__members")
            .map(m => (m.getAs[String]("__name"), m.getAs[Array[Byte]]("__bytes")))
          Row(r.getAs[String]("shard_id"), members.length,
            TarArchive.encodeTar(members.toSeq))
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Pack blobs into shards: one row per shard with the encoded tar
    * bytes. Deterministic for identical inputs (fixed member metadata in
    * [[TarArchive.encodeTar]]), so shards are content-addressable. */
  def pack(blobs: DataFrame, nameCol: String = "name",
      bytesCol: String = "bytes", targetShardBytes: Long = 64L << 20,
      salt: String = "tar"): DataFrame =
    packAssigned(assign(blobs, nameCol, bytesCol, targetShardBytes, salt))

  /** SAMPLE-ATOMIC packing (the WebDataset pair convention): every
    * member of a sample lands in the SAME shard, ADJACENT, in name order
    * — a trainer reading `smp-7.ppm` must find `smp-7.txt` next to it,
    * so the assignment unit is the sample, not the member. Assignment
    * mirrors [[pack]] one level up: the sample key is content-addressed
    * (salted md5), the per-bucket running sum is over whole-sample
    * footprints, and a sample larger than the target still packs, alone.
    * Sample keys must identify one sample (rows sharing a key are that
    * sample's members). */
  def packPaired(members: DataFrame, sampleCol: String = "sample",
      nameCol: String = "name", bytesCol: String = "bytes",
      targetShardBytes: Long = 64L << 20, salt: String = "tar"): DataFrame = {
    require(targetShardBytes >= TarArchive.TerminatorBytes,
      s"targetShardBytes must be at least ${TarArchive.TerminatorBytes}")
    val base = members.select(col(sampleCol).as("__sample"),
      col(nameCol).as("__name"), col(bytesCol).as("__bytes"),
      md5(concat(lit(s"$salt|"), col(sampleCol))).as("__ord"))
      .withColumn("__entry",
        expr("512 + ((length(__bytes) + 511) DIV 512) * 512"))
    val w = Window.partitionBy(col("__prefix")).orderBy(col("__ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val samples = base.groupBy(col("__sample"), col("__ord"))
      .agg(sum(col("__entry")).as("__foot"))
      .withColumn("__prefix", substring(col("__ord"), 1, 2))
      .withColumn("__start", coalesce(sum(col("__foot")).over(w), lit(0L)))
      .select(col("__sample"),
        concat(col("__prefix"), lit("-"),
          expr(s"CAST(__start DIV $targetShardBytes AS STRING)")).as("shard_id"))
    packAssigned(base.join(samples, Seq("__sample"))
      .select(col("shard_id"), col("__ord"), col("__name").as("__tie"),
        col("__name"), col("__bytes")))
  }

  /** Member index from packed shard BYTES via the independent
    * checksum-verifying walk ([[TarArchive.decodeTar]]): one row per
    * member with its absolute payload offset, size, integer payload
    * checksum (computed from the SLICE, so a wrong offset changes it),
    * and the shard's total length. Undecodable shards degrade to a
    * sentinel row (member_no = -1). */
  def index(shards: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("shard_id", StringType),
      StructField("member_no", IntegerType),
      StructField("name", StringType),
      StructField("data_offset", LongType),
      StructField("size", LongType),
      StructField("byte_sum", LongType),
      StructField("shard_len", LongType),
      StructField("n_members", IntegerType)))
    shards.select(col("shard_id"), col("shard_bytes"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val sid = r.getAs[String]("shard_id")
          val bytes = r.getAs[Array[Byte]]("shard_bytes")
          TarArchive.decodeTar(bytes) match {
            case Some(entries) =>
              entries.iterator.map { e =>
                val payload = TarArchive.memberBytes(bytes, e)
                var s = 0L
                payload.foreach(b => s += (b & 0xff))
                Row(sid, e.memberNo, e.name, e.dataOffset, e.size, s,
                  bytes.length.toLong, entries.length)
              }
            case None =>
              Iterator.single(Row(sid, -1, "", -1L, -1L, 0L,
                bytes.length.toLong, -1))
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}

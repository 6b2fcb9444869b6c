package indexbench

import graft.near.ScaleChain

/** Seeded synthetic NEAR chain in the lake layout: one JSON document
  * per block, written as `<height>_<hash>.json`.
  *
  * The blocks are `graft.near.ScaleChain`'s, so they keep its shapes
  * (cross-block lineage, forks, FT/NFT logs, registry churn, lockups),
  * re-stamped at [[BlocksPerDay]] instead of ScaleChain's 2-hour
  * spacing: a few hundred blocks then span a few day partitions, and
  * block work, not file count, dominates. A block's only timestamp is
  * the one in its header; a fork block shares its height's stamp.
  *
  * ScaleChain draws only from `scala.util.Random(seed)`, so one seed
  * always yields byte-identical files.
  */
object ChainGen {

  /** Block stamp density: 200 blocks per UTC day (432 s apart). */
  val BlocksPerDay = 200
  private val GenesisNs = 1700006400000000000L // 2023-11-15T00:00:00Z
  private val SpacingNs = 86400000000000L / BlocksPerDay

  private val Header = "\"height\":(\\d+),\"hash\":\"([^\"]+)\"".r
  private val Stamp = "\"timestamp\":\\d+".r

  final case class Block(height: Long, hash: String, json: String) {
    def fileName: String = f"$height%012d_$hash.json"
  }

  /** The first `n` heights of ScaleChain's chain for `seed`, in height
    * order; a same-height fork block follows its main block.
    */
  def chain(seed: Long, n: Int): Vector[Block] = {
    val docs = ScaleChain.chain(seed, n).toVector
    def header(doc: String): (Long, String) = {
      val m = Header.findFirstMatchIn(doc)
        .getOrElse(throw new IllegalStateException("block without a header"))
      (m.group(1).toLong, m.group(2))
    }
    val genesis = header(docs.head)._1
    docs.map { doc =>
      val (height, hash) = header(doc)
      require(Stamp.findAllIn(doc).size == 1, s"block $hash: expected one timestamp")
      val ts = GenesisNs + (height - genesis) * SpacingNs
      Block(height, hash, Stamp.replaceFirstIn(doc, s""""timestamp":$ts"""))
    }
  }

  /** Write a block atomically for a file-source reader: Spark skips
    * names starting with `.`, so the rename publishes a complete file.
    */
  def write(dir: java.nio.file.Path, b: Block): Long = {
    val bytes = b.json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tmp = dir.resolve("." + b.fileName + ".tmp")
    java.nio.file.Files.write(tmp, bytes)
    java.nio.file.Files.move(tmp, dir.resolve(b.fileName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }
}

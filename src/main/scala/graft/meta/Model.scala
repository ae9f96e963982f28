package graft.meta

/** One shard placement — a block replica on a host. Mirrors the reference's
  * row type (ShardPlacement.java:6-21): equality on all three fields, total
  * order (shardId, shardLength, hostname) (ShardPlacement.java:47-98).
  */
case class ShardPlacement(shard_id: Long, shard_length: Long, hostname: String)

/** One shard catalog row (pg_dist_shard analog, CitusMasterNode.java:44-47).
  * min/max statistics stored as strings regardless of the partition-column
  * type, mirroring MinMaxValue.java:4-30.
  */
case class ShardInfo(table_id: Long, shard_id: Long, storage: String,
                     min_value: Option[String], max_value: Option[String])

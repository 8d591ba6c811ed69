package graft.sink

/** Cluster-topology discovery (SURVEY S13; reference
  * `discovery/discovery.go:72-163`): poll `system.clusters`
  * (discovery.go:15), fold the ordered rows into shard -> replica
  * lists, diff against the configured hosts, and publish the new topology
  * when it changed. Pure functions here; the caller owns the JDBC fetch
  * and the publish side effect (a driver-side control loop — topology
  * polling is never executor work).
  */
object Discovery {

  type Replicas = Seq[String]
  type Shards = Seq[Replicas]

  /** Fold (shard_num, replica_num, host) rows of `system.clusters`,
    * ordered by shard_num and replica_num, into replica groups per shard
    * (discovery.go:81-106: consecutive-run grouping on shard_num).
    */
  def shardsFromClusterRows(rows: Seq[(Int, Int, String)]): Shards = {
    if (rows.isEmpty) return Nil
    val out = Seq.newBuilder[Replicas]
    var current = List.empty[String]
    var lastShard = rows.head._1
    rows.foreach { case (shardNum, _, host) =>
      if (shardNum != lastShard) {
        out += current.reverse
        current = Nil
        lastShard = shardNum
      }
      current = host :: current
    }
    if (current.nonEmpty) out += current.reverse
    out.result()
  }

  /** Replica-set comparison is order-insensitive (discovery.go:155-167). */
  def diffReplicas(a: Replicas, b: Replicas): Boolean =
    a.size != b.size || a.sorted != b.sorted

  /** Shard comparison is positional — a reordering of shards IS a change,
    * because rows hash to shards by index (discovery.go:141-153).
    */
  def diffShards(a: Shards, b: Shards): Boolean =
    a.size != b.size || a.zip(b).exists { case (x, y) => diffReplicas(x, y) }

  /** One dispatcher cycle: Some(newTopology) when the cluster differs
    * from the configured hosts (caller publishes + restarts), None when
    * unchanged or the query returned nothing (discovery.go:72-117).
    */
  def dispatch(clusterRows: Seq[(Int, Int, String)],
      configuredHosts: Shards): Option[Shards] = {
    val shards = shardsFromClusterRows(clusterRows)
    if (shards.isEmpty) None
    else if (diffShards(shards, configuredHosts)) Some(shards)
    else None
  }

  /** Driver-side dispatcher loop state: tracks the active topology and
    * invokes `publish` only on change, like Discovery.Publish republishes
    * the config (discovery.go:108-123).
    */
  final class Dispatcher(initialHosts: Shards, publish: Shards => Unit) {
    @volatile private var hosts: Shards = initialHosts
    def currentHosts: Shards = hosts
    /** Returns true when a change was published. */
    def tick(clusterRows: Seq[(Int, Int, String)]): Boolean =
      dispatch(clusterRows, hosts) match {
        case Some(nw) => hosts = nw; publish(nw); true
        case None => false
      }
  }
}

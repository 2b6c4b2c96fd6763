package graft.lake

/** A rebasing commit planned on a pinned read snapshot, for specs outside
  * `graft.lake`: [[LakeTable.commitWithRetry]] with the snapshot's version
  * and metadata, as a staged append commits them. */
object PinnedCommit {
  def apply(t: LakeTable, read: Snapshot, actions: Seq[Action]): Long =
    t.commitWithRetry(read.version, actions, rebaseable = true,
      readMeta = Some(read.metaData))
}

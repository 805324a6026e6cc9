package graft.state

import java.io.File
import java.util.zip.ZipInputStream

import scala.io.Source

import org.apache.spark.sql.execution.streaming.state._
import org.scalatest.funsuite.AnyFunSuite

import StateStoreTestHelper._

/** The provider's point-lookup and write path: a Bloom filter on every
  * column family, writes that skip the WAL, and the value-free existence
  * probe behind exact `numKeys`. Durability must come from the commit-time
  * flush alone, so the reload paths are checked against durable readback.
  */
class RocksDbWritePathSuite extends AnyFunSuite {

  private def userCf(store: StateStore): Unit =
    store.createColFamilyIfAbsent("aux", keySchema, valueSchema,
      NoPrefixKeyStateEncoderSpec(keySchema), useMultipleValuesPerKey = false, isInternal = false)

  /** `filter_policy` per column family, from the OPTIONS file inside the
    * uploaded full snapshot of `version`. */
  private def filterPolicies(ckpt: String, version: Long): Map[String, String] = {
    val zip = new ZipInputStream(new java.io.FileInputStream(
      new File(ckpt, s"0/0/state.snapshot.$version")))
    try {
      val entries = Iterator.continually(zip.getNextEntry).takeWhile(_ != null)
      val options = entries.find(_.getName.startsWith("OPTIONS-"))
      assert(options.isDefined, "snapshot carries no OPTIONS file")
      val section = """\[TableOptions/BlockBasedTable "(.*)"\]""".r
      var cf = ""
      Source.fromInputStream(zip, "UTF-8").getLines().flatMap { line =>
        line.trim match {
          case section(name) => cf = name; None
          case l if l.startsWith("filter_policy=") => Some(cf -> l.stripPrefix("filter_policy="))
          case _ => None
        }
      }.toMap
    } finally zip.close()
  }

  Seq("no memory budget" -> Map.empty[String, String],
      "shared memory budget" -> Map(RocksDbConf.TOTAL_MEMORY_MB -> "16")).foreach {
    case (mode, budget) =>
      test(s"every column family has a Bloom filter ($mode)") {
        val ckpt = newCheckpointDir()
        val conf = storeConf(budget ++ Map(
          RocksDbConf.CHANGELOG -> "false",
          RocksDbConf.STATE_EXPIRY_SECS -> "3600",
          RocksDbConf.STRICT_EXPIRE -> "true"))
        val provider = newProvider(ckpt, conf, useColumnFamilies = true)
        try {
          val s0 = provider.getStore(0, None)
          userCf(s0)
          put(s0, "a", 1)
          s0.put(keyRow("x"), valueRow(7), "aux")
          assert(s0.commit() === 1)
          val policies = filterPolicies(ckpt, 1)
          val families = Seq(StateStore.DEFAULT_COL_FAMILY_NAME, "aux",
            RocksDbStateStoreProvider.MetaCf,
            RocksDbStateStoreProvider.InternalCfPrefix + "ttl." + StateStore.DEFAULT_COL_FAMILY_NAME,
            RocksDbStateStoreProvider.InternalCfPrefix + "ttl.aux")
          families.foreach { cf =>
            assert(policies.get(cf).exists(_.startsWith("bloomfilter")),
              s"column family $cf: filter_policy ${policies.get(cf)} in $policies")
          }
        } finally provider.close()
      }
  }

  test("writes skip the WAL") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val s0 = provider.getStore(0, None).asInstanceOf[provider.RocksDbStateStore]
      (0 until 1000).foreach(i => put(s0, s"k$i", i))
      (0 until 1000 by 3).foreach(i => remove(s0, s"k$i"))
      assert(s0.walBytes === 0L)
      s0.commit()
      assert(getData(ckpt, 1) === (0 until 1000).filter(_ % 3 != 0).map(i => s"k$i" -> i).toMap)
    } finally provider.close()
  }

  test("numKeys stays exact when probed keys live only in an earlier commit's SSTs") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val s0 = provider.getStore(0, None)
      (0 until 100).foreach(i => put(s0, s"k$i", i))
      s0.commit() // flushes: every key now lives in an SST only
      val s1 = provider.getStore(1, None) // adopted handle
      (0 until 20).foreach(i => put(s1, s"k$i", -i)) // overwrite existing
      (20 until 30).foreach(i => remove(s1, s"k$i")) // remove existing
      (0 until 10).foreach(i => remove(s1, s"absent$i")) // remove absent
      (100 until 115).foreach(i => put(s1, s"k$i", i)) // new keys
      val expected = (0 until 20).map(i => s"k$i" -> -i).toMap ++
        (30 until 115).map(i => s"k$i" -> i)
      assert(s1.metrics.numKeys === expected.size)
      s1.commit()
      assert(s1.metrics.numKeys === expected.size)
      assert(provider.dbOpens.get() === 1)
      // the persisted count, read back through a fresh provider
      val fresh = newProvider(ckpt)
      try {
        val s2 = fresh.getStore(2, None)
        assert(readAll(s2) === expected)
        assert(s2.metrics.numKeys === expected.size)
        s2.abort()
      } finally fresh.close()
    } finally provider.close()
  }

  test("a committed dirty batch reloads intact through close, move and reopen") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val s0 = provider.getStore(0, None)
      (0 until 500).foreach(i => put(s0, s"k$i", i))
      s0.commit()
      // Loading version 0 closes s0 without adopting its handle; the next
      // load of version 1 then moves s0's dir and reopens it.
      provider.getReadStore(0, None).release()
      val s1 = provider.getStore(1, None)
      assert(provider.dbOpens.get() === 3, "version 1 must be physically reopened")
      assert(readAll(s1) === (0 until 500).map(i => s"k$i" -> i).toMap)
      assert(s1.metrics.numKeys === 500)
      s1.abort()
    } finally provider.close()
  }

  test("an aborted dirty batch leaves nothing behind") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val s0 = provider.getStore(0, None)
      put(s0, "a", 1)
      s0.commit()
      val s1 = provider.getStore(1, None)
      (0 until 200).foreach(i => put(s1, s"junk$i", i))
      remove(s1, "a")
      s1.abort()
      val s1b = provider.getStore(1, None)
      assert(readAll(s1b) === Map("a" -> 1))
      assert(s1b.metrics.numKeys === 1)
      put(s1b, "b", 2)
      s1b.commit()
      assert(getData(ckpt, 2) === Map("a" -> 1, "b" -> 2))
    } finally provider.close()
  }
}

package graft.tables

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog of engine-written derived tables, built once per scale-factor
  * directory and memoized on disk (re-used across sessions; `_SUCCESS`
  * marker = build completed). This is the fix for VERDICT r1 finding #1:
  * MVA queries used to re-derive the array column with a full fact-table
  * shuffle per query — the reference instead STORES the UINT32SET column
  * (columnar/accessor/accessormva.cpp:615-659) and filters it directly.
  *
  * Derivation cost is billed once to the writer (as in the reference's build
  * path), after which MVA filters are plain pushdown-friendly scans of a
  * sorted table.
  */
object Derived {

  /** Repo-local root for derived tables (fixtures at /root/testdata are
    * read-only). Overridable for tests via system property. */
  def root: String =
    sys.props.getOrElse("graft.derived.root", "/root/repo/data/derived")

  /** Layout version of the derived tables. Bump whenever any builder's
    * OUTPUT SCHEMA changes: a cached table from an older layout (identified
    * by a missing/mismatched `_GRAFT_LAYOUT` marker) is rebuilt instead of
    * being read with the wrong schema ("r5" = chunked index postings). */
  val LayoutVersion = "r6"

  private val built = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Cache/layout key for a scale dir: the basename for readability PLUS
    * a short hash of the FULL canonical path — two dirs sharing a leaf
    * name ("/data/v1/sf1" vs "/data/v2/sf1") must never collide on one
    * memo entry / on-disk build and silently serve each other's derived
    * tables (review r18-6). */
  private def sfKey(sfDir: String): String = {
    val canonical =
      try new java.io.File(sfDir).getCanonicalPath
      catch { case _: Exception => sfDir }
    val bytes = canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = java.lang.Long.toHexString(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42L))
    s"${new java.io.File(canonical).getName}-${h.take(8)}"
  }

  /** Path of derived artifact `name` for `sfDir` (not built here): every
    * per-scale-dir artifact — catalog tables, memoized query fixtures,
    * stores — is keyed by [[sfKey]], so two scale dirs sharing a basename
    * never share on-disk state. */
  def path(sfDir: String, name: String): String = s"$root/${sfKey(sfDir)}/$name"

  /** Path of derived table `name` for `sfDir`, building it if absent or
    * built under an older layout version. Existence/marker checks go
    * through the Hadoop FileSystem API, so a derived root on HDFS/S3A
    * works the same as the local default. */
  def tablePath(spark: SparkSession, sfDir: String, name: String): String =
    // root is part of the memo key: a test that repoints
    // graft.derived.root mid-JVM must not be served paths built under
    // the previous root (r19 review)
    built.getOrElseUpdate(path(sfDir, name), {
      val out = path(sfDir, name)
      val dir = new org.apache.hadoop.fs.Path(out)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val success = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
      val marker = new org.apache.hadoop.fs.Path(dir, "_GRAFT_LAYOUT")
      def markerCurrent: Boolean = fs.exists(marker) && {
        val in = fs.open(marker)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim == LayoutVersion
        finally in.close()
      }
      if (!(fs.exists(success) && markerCurrent)) {
        builders(name).build(spark, sfDir, out)
        val w = fs.create(marker, true)
        try w.write((LayoutVersion + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally w.close()
      }
      out
    })

  /** Read derived table `name` in its declared format, building it on
    * first access. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.engine.Graft.cachedRead(spark, tablePath(spark, sfDir, name),
      builders(name).format)

  // ---- derivations ----

  /** Index artifact attached to a derived entry, declared NEXT TO the
    * builder that writes it so the integrity sweep can never drift from
    * the catalog: `dirSuffix` "" means the entry's own directory IS the
    * index; the fact side is a base table name or (factIsDerived) another
    * derived entry. */
  private final case class IndexMeta(dirSuffix: String, factTable: String,
                                     factIsDerived: Boolean, valueCol: String,
                                     keyCol: String, segmented: Boolean = false,
                                     mva: Boolean = false)

  private final case class Entry(
      build: (SparkSession, String, String) => Unit,
      indexes: Seq[IndexMeta] = Nil,
      format: String = "parquet")

  private val builders: Map[String, Entry] = Map(
    // Stored-MVA table (ref UINT32SET storage): sorted distinct linenumber
    // set per order, clustered by l_orderkey. One shuffle at build time;
    // every MVA query afterwards is a scan + array predicate.
    "mcl_attrs" -> Entry((spark, sfDir, path) => {
      val li = graft.engine.Graft.table(spark, sfDir, "lineitem")
      val tagged = li.groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_linenumber"))).as("tags"))
      Writer.write(tagged, path, sortBy = Seq("l_orderkey"))
    }),

    // customer with c_mktsegment + c_name hash companions (F4 fast-path
    // parity; ref columnar.cpp:465-473 + common/filter.cpp:77-90 rewrite).
    "customer_h" -> Entry((spark, sfDir, path) => {
      val c = graft.engine.Graft.table(spark, sfDir, "customer")
      Writer.write(c, path, sortBy = Seq("c_custkey"),
        hashCompanions = Seq("c_mktsegment", "c_name"))
    }),

    // Secondary index over customer_h's c_name HASH COMPANION — the
    // reference's STRINGS secondary index is a hash index (it posts
    // string hashes, secondary/secondary.cpp string path), so serving a
    // string equality = HashCompanionRule earns the hash conjunct, this
    // index serves it, and the original string predicate rides residual.
    "customer_h_idx" -> Entry((spark, sfDir, path) => {
      val c = table(spark, sfDir, "customer_h")
      graft.index.SecondaryIndex.build(c,
        "c_name" + Writer.HashSuffix, "c_custkey", path)
    }, Seq(IndexMeta("", "customer_h", factIsDerived = true,
      "c_name" + Writer.HashSuffix, "c_custkey"))),

    // Secondary index on orders.o_orderpriority with o_orderkey postings
    // (I1-I4: value-sorted index table; o_orderkey is unique per row, the
    // engine's rowid).
    "orders_prio_idx" -> Entry((spark, sfDir, path) => {
      val o = graft.engine.Graft.table(spark, sfDir, "orders")
      graft.index.SecondaryIndex.build(o, "o_orderpriority", "o_orderkey", path)
    }, Seq(IndexMeta("", "orders", factIsDerived = false,
      "o_orderpriority", "o_orderkey"))),

    // DELETE lifecycle fixture (r20, VERDICT r19 #6 — the reference
    // invalidates and re-derives affected indexes when rows mutate,
    // secondary/secondary.cpp:414-434): a fact copy of orders with a
    // tenth of the keys DELETED, whose index was built over the FULL
    // table first and then maintained through SecondaryIndex.deleteKeys
    // — the subtraction path, never a fact re-scan. Every gate over this
    // pair serves post-delete state, and the integrity sweep's fact
    // reconciliation (IndexMeta below) proves the maintained index
    // matches the rewritten fact exactly.
    "orders_del" -> Entry((spark, sfDir, path) => {
      val o = graft.engine.Graft.table(spark, sfDir, "orders")
      val deletePred = col("o_orderkey") % 10 === 3
      // 1. the index exists over the pre-delete world
      graft.index.SecondaryIndex.build(o, "o_orderpriority", "o_orderkey",
        path + "_idx")
      // 2. the fact rewrite deletes the rows
      Writer.write(o.filter(!deletePred), path, sortBy = Seq("o_orderkey"))
      // 3. the index subtracts exactly their keys (rename-swap commit)
      graft.index.SecondaryIndex.deleteKeys(spark, path + "_idx",
        o.filter(deletePred).select(col("o_orderkey")), "o_orderkey")
    }, Seq(IndexMeta("_idx", "orders_del", factIsDerived = true,
      "o_orderpriority", "o_orderkey"))),

    // Nullable derived table: last order timestamp per customer via LEFT
    // JOIN (NULL for the ~1/3 of TPC-H customers with no orders) — the
    // NOTNULL-via-index fixture — plus its index sibling on last_odate
    // (c_custkey is unique: the rowid contract).
    "cust_last" -> Entry((spark, sfDir, path) => {
      val c = graft.engine.Graft.table(spark, sfDir, "customer")
      val o = graft.engine.Graft.table(spark, sfDir, "orders")
      val last = c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(max(col("o_orderdate")).as("last_odate"))
      Writer.write(last, path, sortBy = Seq("c_custkey"))
      graft.index.SecondaryIndex.build(last, "last_odate", "c_custkey",
        path + "_idx")
    }, Seq(IndexMeta("_idx", "cust_last", factIsDerived = true,
      "last_odate", "c_custkey"))),

    // JSON-flattened events (H6 storage convention, ref blockreader.h:96
    // m_sJsonParentName): props.k parsed ONCE at write time into a typed
    // sibling column props_k, table range-clustered by it (predicates on
    // the hot JSON field prune files/row groups), plus a secondary-index
    // sibling on props_k — JSON fields get the same index machinery as any
    // attribute (secondary/secondary.cpp:426-433).
    "events_flat" -> Entry((spark, sfDir, path) => {
      val ev = graft.engine.Graft.table(spark, sfDir, "events")
      val flat = JsonFlatten.flatten(ev, "props", "k",
        org.apache.spark.sql.types.LongType)
      Writer.write(flat, path, sortBy = Seq("props_k"), files = 4)
      graft.index.SecondaryIndex.build(flat, "props_k", "event_id",
        path + "_kidx")
    }, Seq(IndexMeta("_kidx", "events_flat", factIsDerived = true,
      "props_k", "event_id"))),

    // SEGMENTED secondary index (I9): the same orders priority index built
    // as an initial segment + an appended batch (the reference's RT
    // segment model) — read paths must be correct without compaction.
    "orders_prio_idx_seg" -> Entry((spark, sfDir, path) => {
      val o = graft.engine.Graft.table(spark, sfDir, "orders")
      graft.index.SecondaryIndex.build(
        o.filter(col("o_orderkey") % 2 === 0),
        "o_orderpriority", "o_orderkey", path)
      graft.index.SecondaryIndex.appendSegment(
        o.filter(col("o_orderkey") % 2 === 1),
        "o_orderpriority", "o_orderkey", path)
    }, Seq(IndexMeta("", "orders", factIsDerived = false,
      "o_orderpriority", "o_orderkey", segmented = true))),

    // SEGMENTED numeric index on events.user_id (r12): the sorted-retrieval
    // route must survive segment splits — events is the one base table
    // with NO other registered index, so the topk gate deterministically
    // exercises the split-group merge instead of the fewest-rows canonical
    // sibling the registry would otherwise prefer.
    "events_uid_idx_seg" -> Entry((spark, sfDir, path) => {
      val ev = graft.engine.Graft.table(spark, sfDir, "events")
      graft.index.SecondaryIndex.build(
        ev.filter(col("event_id") % 2 === 0), "user_id", "event_id", path)
      graft.index.SecondaryIndex.appendSegment(
        ev.filter(col("event_id") % 2 === 1), "user_id", "event_id", path)
    }, Seq(IndexMeta("", "events", factIsDerived = false,
      "user_id", "event_id", segmented = true))),

    // Numeric secondary index on orders.o_custkey (I3 value-RANGE lookups:
    // the value-sorted layout lets an interval predicate prune files/row
    // groups by value min/max). 4 files so the range actually skips whole
    // files, not just row groups.
    "orders_ckey_idx" -> Entry((spark, sfDir, path) => {
      val o = graft.engine.Graft.table(spark, sfDir, "orders")
      graft.index.SecondaryIndex.build(o, "o_custkey", "o_orderkey", path,
        files = 4)
    }, Seq(IndexMeta("", "orders", factIsDerived = false,
      "o_custkey", "o_orderkey"))),

    // Double-valued secondary index on orders.o_totalprice (FLOATRANGE
    // served from the index — ref secondary.cpp float range block readers).
    "orders_price_idx" -> Entry((spark, sfDir, path) => {
      val o = graft.engine.Graft.table(spark, sfDir, "orders")
      graft.index.SecondaryIndex.build(o, "o_totalprice", "o_orderkey", path,
        files = 4)
    }, Seq(IndexMeta("", "orders", factIsDerived = false,
      "o_totalprice", "o_orderkey"))),

    // High-element-ndv stored MVA (the reference's canonical UINT32SET use
    // case: attribute-id sets): the distinct part keys of each order.
    // Element ndv tracks the part table (~200k x sf), so a single-element
    // membership filter is highly selective — the shape the MVA
    // auto-routing gate exercises.
    "mcl_parts" -> Entry((spark, sfDir, path) => {
      val li = graft.engine.Graft.table(spark, sfDir, "lineitem")
      val parts = li.groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
      Writer.write(parts, path, sortBy = Seq("l_orderkey"))
      graft.index.SecondaryIndex.buildMva(parts, "parts", "l_orderkey",
        path + "_idx")
    }, Seq(IndexMeta("_idx", "mcl_parts", factIsDerived = true,
      "parts", "l_orderkey", mva = true))),

    // MVA secondary index (ref: UINT32SET/INT64SET columns are indexable,
    // common/schema.h:29-44 — the builder posts each set element): every
    // element of mcl_attrs.tags posts its l_orderkey, so ANY(tags) filters
    // get index acceleration. l_orderkey is unique in mcl_attrs (one row
    // per order): the rowid contract holds; per-(value, key) containment
    // replaces global key uniqueness (IndexCheck mva = true).
    "mcl_attrs_idx" -> Entry((spark, sfDir, path) => {
      val attrs = table(spark, sfDir, "mcl_attrs")
      graft.index.SecondaryIndex.buildMva(attrs, "tags", "l_orderkey", path)
    }, Seq(IndexMeta("", "mcl_attrs", factIsDerived = true,
      "tags", "l_orderkey", mva = true))),

    // STRING secondary index on customer.c_name (non-numeric RANGE
    // routing, VERDICT r9 #6: the numeric span seam cannot estimate a
    // string BETWEEN; the equi-depth histogram captured at registration
    // serves it — the reference's PGM orders any type).
    "customer_name_idx" -> Entry((spark, sfDir, path) => {
      val c = graft.engine.Graft.table(spark, sfDir, "customer")
      graft.index.SecondaryIndex.build(c, "c_name", "c_custkey", path,
        files = 2)
    }, Seq(IndexMeta("", "customer", factIsDerived = false,
      "c_name", "c_custkey"))),

    // ORC copy of orders (S1/S3 source-format breadth): the same
    // range-clustered sorted write through the ORC writer — zone-map
    // pruning rides ORC's own stripe/file statistics, so the layout
    // conventions are format-portable.
    "orders_orc" -> Entry((spark, sfDir, path) => {
      val o = graft.engine.Graft.table(spark, sfDir, "orders")
      Writer.write(o, path, sortBy = Seq("o_orderkey"), files = 4,
        format = "orc")
    }, format = "orc"),

    // Z-ordered events copy (r12): Morton-curve clustered by
    // (user_id, value) so file/row-group stats prune predicates on EITHER
    // dimension — the multi-column layout a sortBy cannot give.
    "events_z" -> Entry((spark, sfDir, path) => {
      val e = graft.engine.Graft.table(spark, sfDir, "events")
      Writer.writeZOrdered(e, path, Seq("user_id", "value"), files = 8)
    }),

    // Hive-partitioned documents copy: one directory per language,
    // doc_id-sorted within — partition-pruned scans for per-language
    // slices (the date/tenant/source layout at 100 TB).
    "documents_bylang" -> Entry((spark, sfDir, path) => {
      val docs = graft.engine.Graft.table(spark, sfDir, "documents")
      Writer.writePartitioned(docs, path, partitionCols = Seq("lang"),
        sortBy = Seq("doc_id"), files = 8)
    }),

    // Multimodal table: documents with a packed binary payload + metadata
    // struct (the payload is the UTF-8 text bytes — a deterministic stand-in
    // for image/audio bytes; the schema/plumbing is the real convention).
    "documents_mm" -> Entry((spark, sfDir, path) => {
      val docs = graft.engine.Graft.table(spark, sfDir, "documents")
      val mm = docs.withColumn("blob",
        graft.pipeline.Multimodal.packBlob(
          col("text").cast("binary"), lit("txt"), col("n_chars"), lit(1)))
      Writer.write(mm, path, sortBy = Seq("doc_id"))
    }),

    // Semantic-search corpus: documents embedded by the K8 stage at WRITE
    // time — the reference's embeddings→FLOATVEC wiring, where ingest runs
    // GenerateEmbeddings and KNN searches the stored column
    // (knn/knn.h:146-163, embeddings/src/ffi.rs:78). Deterministic hashing
    // provider, dim 16, raw counts (normalize=false): integer-exact in
    // both the engine's floats and the oracle's doubles, so the semantic
    // top-k is hash-comparable.
    "documents_sem" -> Entry((spark, sfDir, path) => {
      val docs = graft.engine.Graft.table(spark, sfDir, "documents")
      val emb = graft.embed.Embeddings.embedStage(docs, "text", "emb",
        () => graft.embed.Embeddings.HashingProvider(16, normalize = false))
      Writer.write(emb, path, sortBy = Seq("doc_id"))
    })
  )

  /** Derived table names (for integrity sweeps). */
  def names: Seq[String] = builders.keys.toSeq.sorted

  /** Register EVERY index artifact of `sfDir` with
    * [[graft.plans.IndexRouting]] (building absent ones) — after this one
    * call, plain filters / counts / facets over the indexed tables route
    * automatically, which is the reference daemon's zero-config behavior
    * (its table metadata carries the index list; the host consults it per
    * query). Segmented index dirs register too: lookups union segments at
    * explode time, so routed reads stay correct pre-compaction. Returns
    * the (basePath, indexDir) pairs registered. */
  def registerIndexes(spark: SparkSession,
                      sfDir: String): Seq[(String, String)] =
    names.flatMap { n =>
      builders(n).indexes.map { m =>
        val dir = tablePath(spark, sfDir, n) + m.dirSuffix
        val basePath =
          if (m.factIsDerived) tablePath(spark, sfDir, m.factTable)
          else graft.engine.Graft.tablePath(sfDir, m.factTable)
        graft.plans.IndexRouting.register(spark, basePath, dir,
          m.valueCol, m.keyCol, mva = m.mva)
        basePath -> dir
      }
    }

  /** S4 catalog sweep — the CheckColumnarStorage/CheckSecondaryIndex pass
    * over every engine-written artifact of `sfDir` (building absent ones):
    * structural [[Check]] for each table INCLUDING index siblings, plus
    * [[graft.index.IndexCheck]] with fact reconciliation for the
    * index-layout artifacts (segment dirs validated under the relaxed
    * pre-compaction invariants). Returns per-artifact issue lists; an
    * empty map means the whole derived catalog is healthy. */
  def checkAll(spark: SparkSession,
               sfDir: String): Map[String, Seq[String]] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    def add(name: String, issues: Seq[String]): Unit =
      if (issues.nonEmpty) out(name) = out.getOrElse(name, Nil) ++ issues
    names.foreach { n =>
      // the structural checker walks Parquet footers; other formats get a
      // FULL-DECODE read-back pass — hashing every column of every row
      // forces the reader through the data streams (a bare count() would
      // be satisfied from stripe row-count metadata and miss corrupt data)
      if (builders(n).format == "parquet")
        add(n, Check.check(spark, tablePath(spark, sfDir, n)).issues)
      else
        try {
          val rows = table(spark, sfDir, n)
            .selectExpr("xxhash64(struct(*)) AS h")
            .agg(count(col("h"))).head.getLong(0)
          if (rows <= 0) add(n, Seq("empty table"))
        } catch { case e: Exception =>
          add(n, Seq(s"scan failed (${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).take(120)})"))
        }
    }
    // Index artifacts come from the builders' own metadata, declared next
    // to the code that writes them — a new index cannot be forgotten here.
    names.foreach { n =>
      builders(n).indexes.foreach { m =>
        val dir = tablePath(spark, sfDir, n) + m.dirSuffix
        val fact =
          if (m.factIsDerived) table(spark, sfDir, m.factTable)
          else graft.engine.Graft.table(spark, sfDir, m.factTable)
        val structural =
          if (m.dirSuffix.isEmpty) Nil // already checked as the table above
          else Check.check(spark, dir).issues
        add(n + m.dirSuffix, structural ++
          graft.index.IndexCheck.check(spark, dir,
            Some((fact, m.valueCol, m.keyCol)),
            segmented = m.segmented, mva = m.mva).issues)
      }
    }
    out.toMap
  }
}

package io.quiverspark;

import java.util.Collections;
import java.util.HashMap;
import java.util.Map;
import java.util.Set;

import org.apache.spark.sql.connector.catalog.SupportsWrite;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCapability;
import org.apache.spark.sql.connector.catalog.TableProvider;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.connector.write.BatchWrite;
import org.apache.spark.sql.connector.write.DataWriterFactory;
import org.apache.spark.sql.connector.write.LogicalWriteInfo;
import org.apache.spark.sql.connector.write.PhysicalWriteInfo;
import org.apache.spark.sql.connector.write.SupportsTruncate;
import org.apache.spark.sql.connector.write.Write;
import org.apache.spark.sql.connector.write.WriteBuilder;
import org.apache.spark.sql.connector.write.WriterCommitMessage;
import org.apache.spark.sql.sources.DataSourceRegister;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;

/**
 * JVM-side quiver batch WRITER ("quiverjvm"): closes the structural
 * JVM-to-Python Arrow boundary cost of the Python sink's pure-write path
 * (BASELINE.md round-7 write-floor proof: a no-op Python Arrow sink costs
 * the same as the full quiver write). Rows never leave the JVM: each task
 * accumulates InternalRows into columnar buffers and emits quiver files
 * (adaptive codecs since round 11: OneValue/RLE/Dict/Bitpacking over the
 * basic block codec) byte-compatible with the Python reader/scan.
 *
 * The job commit also writes the per-file stats sidecars and the table
 * manifest (round 11): an ingest is ONE pass — the first scan plans from
 * one metadata read and prunes pages immediately. Reads are served by
 * QuiverJvmRead (same jar). Options:
 *   codec = zstd | lz4 | none   (default zstd)
 *   max_page_size = rows/page   (default 8192)
 *   max_rows_per_file           (default 1&lt;&lt;22, the Python sink default)
 *   bloom_columns = csv          (per-page blooms in the sidecar)
 *   manifest = true|false        (job-commit manifest write)
 *   compress_ratio = float       (adaptive chooser threshold, default
 *                                 2.0 = WriteOptions parity; <=0 off)
 *   forbidden = csv              (typed codecs excluded from the chooser,
 *                                 WriteOptions.forbidden parity)
 */
public class QuiverJvmDataSource implements TableProvider, DataSourceRegister {

  @Override
  public String shortName() {
    return "quiverjvm";
  }

  @Override
  public boolean supportsExternalMetadata() {
    return true; // write path: schema comes from the DataFrame
  }

  @Override
  public StructType inferSchema(CaseInsensitiveStringMap options) {
    String path = options.get("path");
    if (path == null) {
      throw new IllegalArgumentException("quiverjvm: no path given (use .load(dir))");
    }
    try {
      // declared (ALTER) schema > manifest-interned schema (zero footer
      // reads) > first footer; Hive partition columns appended — one code
      // path shared with the unified Python-side router. `version` pins a
      // retained generation (its schema may differ from the live one);
      // `merge_schemas` unions per-file schemas by name (round 13).
      return QuiverJvmRead.inferTableSchema(
          path,
          options.get("version"),
          "true".equalsIgnoreCase(options.getOrDefault("merge_schemas", "false")));
    } catch (java.io.IOException e) {
      throw new RuntimeException(e);
    }
  }

  @Override
  public Table getTable(StructType schema, Transform[] partitioning, Map<String, String> properties) {
    return new QuiverJvmTable(schema, partitioning, properties);
  }

  static final class QuiverJvmTable
      implements SupportsWrite, org.apache.spark.sql.connector.catalog.SupportsRead,
          org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
    private final StructType schema;
    private final Transform[] partitioning;
    private final Map<String, String> properties;

    /** File-identity metadata column (round 14): `_quiver_file` yields
     * each row's data file as a root-relative path — the JVM twin of
     * the Python DS's `file_column` option, so the unified router can
     * serve file-identity scans without the Python planner floor.
     * Spark suppresses it automatically when a data column shadows the
     * name (SupportsMetadataColumns contract). */
    @Override
    public org.apache.spark.sql.connector.catalog.MetadataColumn[] metadataColumns() {
      return new org.apache.spark.sql.connector.catalog.MetadataColumn[] {
        new org.apache.spark.sql.connector.catalog.MetadataColumn() {
          @Override
          public String name() {
            return QuiverJvmRead.META_FILE_COL;
          }

          @Override
          public org.apache.spark.sql.types.DataType dataType() {
            return org.apache.spark.sql.types.DataTypes.StringType;
          }

          @Override
          public boolean isNullable() {
            return false;
          }

          @Override
          public String comment() {
            return "root-relative data file of the row";
          }
        }
      };
    }

    QuiverJvmTable(StructType schema, Transform[] partitioning, Map<String, String> properties) {
      this.schema = schema;
      this.partitioning = partitioning == null ? new Transform[0] : partitioning;
      this.properties = properties;
    }

    @Override
    public Transform[] partitioning() {
      // echo the write's partitionBy so Spark's provided-vs-table check
      // passes; only identity transforms (plain Hive fan-out) are served
      return partitioning;
    }

    @Override
    public String name() {
      return "quiverjvm:" + properties.getOrDefault("path", "?");
    }

    @Override
    public StructType schema() {
      return schema;
    }

    @Override
    public Set<TableCapability> capabilities() {
      return java.util.EnumSet.of(
          TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
          TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
          TableCapability.STREAMING_WRITE);
    }

    @Override
    public WriteBuilder newWriteBuilder(LogicalWriteInfo info) {
      Map<String, String> opts = new HashMap<>(properties);
      opts.putAll(info.options());
      StringBuilder cols = new StringBuilder();
      for (Transform t : partitioning) {
        if (!"identity".equals(t.name()) || t.references().length != 1) {
          throw new UnsupportedOperationException(
              "quiverjvm: only identity partition transforms (partitionBy) are supported; got " + t);
        }
        if (cols.length() > 0) cols.append(',');
        cols.append(t.references()[0].fieldNames()[0]);
      }
      if (cols.length() > 0) opts.put("__partition_cols", cols.toString());
      return new QuiverJvmWriteBuilder(info.schema(), opts);
    }

    @Override
    public org.apache.spark.sql.connector.read.ScanBuilder newScanBuilder(
        CaseInsensitiveStringMap options) {
      String path = QuiverJvmRead.localPath(
          options.containsKey("path") ? options.get("path")
              : properties.get("path"));
      // semantic reader options (version / files / changes_since /
      // merge_schemas) arrive as load-time properties AND scan options —
      // scan options win (catalog tables can override per query)
      java.util.Map<String, String> merged = new HashMap<>(properties);
      merged.putAll(options.asCaseSensitiveMap());
      return new QuiverJvmRead.QuiverScanBuilder(
          path, schema, new QuiverJvmRead.ScanOpts(merged));
    }
  }

  static final class QuiverJvmWriteBuilder implements WriteBuilder, SupportsTruncate {
    private final StructType schema;
    private final Map<String, String> options;
    private boolean truncate = false;

    QuiverJvmWriteBuilder(StructType schema, Map<String, String> options) {
      this.schema = schema;
      this.options = options;
    }

    @Override
    public WriteBuilder truncate() {
      truncate = true;
      return this;
    }

    @Override
    public Write build() {
      refuseCheckConstraints(options);
      final boolean doTruncate = truncate;
      return new Write() {
        @Override
        public BatchWrite toBatch() {
          return new QuiverJvmBatchWrite(schema, options, doTruncate);
        }

        @Override
        public org.apache.spark.sql.connector.write.streaming.StreamingWrite toStreaming() {
          if (doTruncate) {
            throw new UnsupportedOperationException(
                "quiverjvm streaming sink: append output mode only "
                    + "(complete/update would truncate the table per epoch)");
          }
          return new QuiverJvmStreamingWrite(schema, options);
        }
      };
    }

    /** CHECK constraints (maintenance.add_constraint) live in the live
     * manifest and only quiver_spark.sources.write checks them, so a
     * batch or streaming write into such a table is refused here, before
     * any task runs: a violating row can never land through this format.
     * An unreadable manifest counts as none, as in the Python sink. */
    private static void refuseCheckConstraints(Map<String, String> options) {
      String path = QuiverJvmRead.localPath(options.get("path"));
      if (path == null || !new java.io.File(path).isDirectory()) return;
      com.fasterxml.jackson.databind.JsonNode man;
      try {
        man = QuiverJvmRead.readManifestRaw(QuiverJvmRead.resolveRoot(path));
      } catch (java.io.IOException unreadable) {
        return;
      }
      if (man != null && man.path("check_constraints").size() > 0) {
        throw new UnsupportedOperationException(
            "quiverjvm: " + path + " has CHECK constraints "
                + man.get("check_constraints") + ", which this writer does "
                + "not evaluate — write through quiver_spark.sources.write, "
                + "which checks them");
      }
    }
  }

  static final class QuiverJvmBatchWrite implements BatchWrite {
    private final StructType schema;
    private final Map<String, String> options;
    private final boolean truncate;
    /** commit-counter seed captured from the manifest a truncate deletes
     * (manifest.py's monotone-across-resets rule: restarting at 1 would
     * stamp new files below a standing CDC consumer's cursor). */
    private long seedSeq = 0;
    /** the RESOLVED data root task writers target (live generation for
     * appends into generation tables) — the job-commit manifest must
     * land there too, not at the table root. */
    private String destRoot;

    QuiverJvmBatchWrite(StructType schema, Map<String, String> options, boolean truncate) {
      this.schema = schema;
      this.options = options;
      this.truncate = truncate;
    }

    @Override
    public DataWriterFactory createBatchWriterFactory(PhysicalWriteInfo info) {
      String path = QuiverJvmRead.localPath(options.get("path"));
      if (path == null) {
        throw new IllegalArgumentException("quiverjvm: no path given (use .save(dir))");
      }
      if (new java.io.File(path, "_current").isFile()) {
        if (truncate) {
          // an in-place truncate cannot perform the Python sink's atomic
          // generation swap (staged commit + CAS pointer) — silently
          // flattening a generation table would strand every retained
          // snapshot. Refuse loudly; overwrite through the Python sink.
          throw new UnsupportedOperationException(
              "quiverjvm: overwrite of a generation-layout table needs the "
                  + "atomic generation-swap protocol — write with the "
                  + "Python 'quiver' sink");
        }
        // APPEND resolves the LIVE generation (Python _data_root parity):
        // files written at the TABLE root sit where every reader's
        // resolution skips — the job would report success while both
        // engines read none of its rows (silent loss; round-13 probe: 10
        // appended rows invisible). Lock-free caveat: an overwrite racing
        // this append can swap generations between here and the job
        // commit, stranding the append in the superseded snapshot —
        // coordinated multi-writer pipelines use the Python sink's
        // flock/CAS protocol.
        try {
          path = QuiverJvmRead.resolveRoot(path);
        } catch (java.io.IOException e) {
          throw new RuntimeException(
              "quiverjvm: cannot resolve live generation of " + path, e);
        }
      }
      destRoot = path;
      java.io.File dir = new java.io.File(path);
      if (truncate && dir.isDirectory()) {
        try {
          com.fasterxml.jackson.databind.JsonNode prev = QuiverJvmRead.readManifestRaw(path);
          if (prev != null) seedSeq = prev.path("commit_seq").asLong(0);
        } catch (java.io.IOException corrupt) {
          // unreadable history: seed from the wall clock (manifest.py's
          // sequence-reuse guard — strictly above any plausible commit
          // count, so standing cursors re-deliver instead of skipping)
          seedSeq = System.currentTimeMillis() / 1000L;
        }
        deleteTableFiles(dir);
      }
      dir.mkdirs();
      return new QuiverDataWriterFactory(
          path,
          schema.json(),
          options.getOrDefault("codec", "zstd"),
          Integer.parseInt(options.getOrDefault("max_page_size", "8192")),
          Long.parseLong(options.getOrDefault("max_rows_per_file", String.valueOf(1L << 22))),
          options.getOrDefault("bloom_columns", ""),
          options.getOrDefault("__partition_cols", ""),
          Double.parseDouble(options.getOrDefault("compress_ratio", "2.0")),
          options.getOrDefault("forbidden", ""));
    }

    /** Recursively remove table artifacts (.quiver data, .json sidecars,
     * the manifest) including Hive partition subdirectories; empty
     * partition dirs are pruned so stale keys don't survive overwrite. */
    private static void deleteTableFiles(java.io.File dir) {
      java.io.File[] entries = dir.listFiles();
      if (entries == null) return;
      for (java.io.File f : entries) {
        String n = f.getName();
        if (f.isDirectory()) {
          if (n.contains("=")) {
            deleteTableFiles(f);
            f.delete(); // succeeds only when emptied
          }
        } else if (n.endsWith(".quiver") || n.endsWith(".json")
            || n.equals("_manifest.json.gz")) {
          if (!f.delete()) throw new IllegalStateException("quiverjvm truncate: cannot delete " + f);
        }
      }
    }

    @Override
    public void commit(WriterCommitMessage[] messages) {
      // task-level rename (tmp -> final) already made every data file +
      // stats sidecar visible; the job commit's remaining duty is the
      // table manifest (sources/manifest.py layout, version 1) so the
      // FIRST scan of an ingested table plans from one metadata read —
      // no rebuild_manifest retrofit pass, no footer re-reads (the task
      // writers shipped the entry facts in their commit messages).
      publishManifest(schema, options, truncate, seedSeq, destRoot, messages);
    }

    @Override
    public void abort(WriterCommitMessage[] messages) {
      // tmp files of failed attempts are cleaned by their own abort()
    }
  }

  /** Merge the task writers' manifest-entry facts into the table manifest
   * and publish atomically — ONE CDC commit (manifest.py update_manifest
   * parity): the counter bumps, the new entries take its stamp, and the
   * commit wall-time is recorded, so `changes_since` / `start_commit`
   * cursors see JVM-written files exactly like Python-sink commits.
   * (Before round 13 JVM commits stamped nothing — an appended file read
   * as commit 0 and a standing CDC cursor silently skipped it.) */
  static void publishManifest(
      StructType schema,
      Map<String, String> options,
      boolean fresh,
      long seedSeq,
      String destRoot,
      WriterCommitMessage[] messages) {
    if ("false".equalsIgnoreCase(options.getOrDefault("manifest", "true"))) return;
    String path = destRoot != null
        ? destRoot : QuiverJvmRead.localPath(options.get("path"));
    try {
      com.fasterxml.jackson.databind.ObjectMapper om =
          new com.fasterxml.jackson.databind.ObjectMapper();
      com.fasterxml.jackson.databind.node.ObjectNode root;
      com.fasterxml.jackson.databind.JsonNode prev =
          fresh ? null : QuiverJvmRead.readManifestRaw(path);
      if (prev != null && prev.isObject() && prev.path("version").asInt(-1) == 1) {
        // append: merge into the existing manifest — dropping prior
        // entries would silently degrade their planning to footer reads.
        // Concurrency note: this read-merge-publish does NOT take the
        // Python sink's flock (JVM FileChannel locks are POSIX-record
        // locks — a different namespace than flock, so holding one
        // would exclude nothing). A racing writer can therefore win
        // the last atomic move and drop this commit's ENTRIES from the
        // manifest — never its FILES: a manifest-absent file plans via
        // its own footer, and a stale entry fails the size/mtime_ns
        // validation. The manifest is a cache; races cost planning
        // I/O, not correctness. Serialized writers (maintenance.ingest,
        // any single-writer pipeline) always get the full manifest.
        root = (com.fasterxml.jackson.databind.node.ObjectNode) prev.deepCopy();
      } else {
        root = om.createObjectNode();
        root.put("version", 1);
        root.putArray("schemas");
        root.putObject("files");
        if (seedSeq > 0) root.put("commit_seq", seedSeq);
      }
      com.fasterxml.jackson.databind.node.ArrayNode schemas =
          (com.fasterxml.jackson.databind.node.ArrayNode) root.withArray("schemas");
      // the FILE schema: partition keys ride the path, not the pages —
      // interning the full write schema would desynchronize the
      // manifest from every footer (verify_manifest mismatch)
      StructType fileSchema = schema;
      String pcsv = options.getOrDefault("__partition_cols", "");
      if (!pcsv.isEmpty()) {
        java.util.Set<String> pcols = new java.util.HashSet<>(
            java.util.Arrays.asList(pcsv.split(",")));
        StructType ds = new StructType();
        for (org.apache.spark.sql.types.StructField f : schema.fields()) {
          if (!pcols.contains(f.name())) ds = ds.add(f);
        }
        fileSchema = ds;
      }
      String b64 = QuiverFileEncoder.schemaB64(fileSchema);
      int schemaIdx = -1;
      for (int i = 0; i < schemas.size(); i++) {
        if (b64.equals(schemas.get(i).asText())) { schemaIdx = i; break; }
      }
      if (schemaIdx < 0) {
        schemaIdx = schemas.size();
        schemas.add(b64);
      }
      // CDC commit stamp (manifest.py _stamp_commit parity): advance the
      // monotone counter, record a never-backwards wall-time for it
      // (commit_at time cursors), bound the time map to the most recent
      // 10k commits, and stamp every entry of THIS commit with the seq.
      long seq = Math.max(root.path("commit_seq").asLong(0) + 1, 1);
      root.put("commit_seq", seq);
      com.fasterxml.jackson.databind.node.ObjectNode times =
          root.with("commit_times");
      long maxPrev = 0;
      for (java.util.Iterator<String> it = times.fieldNames(); it.hasNext(); ) {
        maxPrev = Math.max(maxPrev, times.get(it.next()).asLong(0));
      }
      times.put(Long.toString(seq),
          Math.max(System.currentTimeMillis() / 1000L, maxPrev));
      if (times.size() > 10_000) {
        java.util.List<Long> keys = new java.util.ArrayList<>();
        for (java.util.Iterator<String> it = times.fieldNames(); it.hasNext(); ) {
          keys.add(Long.parseLong(it.next()));
        }
        java.util.Collections.sort(keys);
        for (int i = 0; i < keys.size() - 10_000; i++) {
          times.remove(Long.toString(keys.get(i)));
        }
      }
      com.fasterxml.jackson.databind.node.ObjectNode files =
          root.with("files");
      for (WriterCommitMessage m : messages) {
        String[] entryJsons = entryJsonsOf(m);
        if (entryJsons == null) continue;
        for (String ej : entryJsons) {
          com.fasterxml.jackson.databind.node.ObjectNode e =
              (com.fasterxml.jackson.databind.node.ObjectNode) om.readTree(ej);
          String rel = e.remove("rel").asText();
          e.put("schema", schemaIdx);
          e.put("commit", seq);
          files.set(rel, e);
        }
      }
      // atomic publish: write-temp + move, same protocol as _write_raw
      java.io.File tmp = new java.io.File(path,
          "_manifest.json.gz.tmp." + java.util.UUID.randomUUID().toString().replace("-", ""));
      try (java.util.zip.GZIPOutputStream gz =
          new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(tmp))) {
        gz.write(om.writeValueAsBytes(root));
      }
      java.nio.file.Files.move(
          tmp.toPath(), new java.io.File(path, "_manifest.json.gz").toPath(),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE);
    } catch (java.io.IOException e) {
      throw new RuntimeException("quiverjvm: manifest write failed for " + path, e);
    }
  }

  /** entryJsons of a task commit message, CLASSLOADER-TOLERANT: with the
   * jar attached at runtime (ADD JAR), streaming epoch results can
   * deserialize under a different classloader than the one that loaded
   * this class, making {@code instanceof CommitMsg} silently FALSE — the
   * epoch would then publish nothing and still write its marker (rows
   * staged forever, batch acknowledged: silent loss). Match by class NAME
   * and read the field reflectively; null = not a quiver commit message. */
  static String[] entryJsonsOf(WriterCommitMessage m) {
    if (m == null) return null;
    if (m instanceof QuiverDataWriterFactory.CommitMsg) {
      return ((QuiverDataWriterFactory.CommitMsg) m).entryJsons;
    }
    if (!m.getClass().getName()
        .equals(QuiverDataWriterFactory.CommitMsg.class.getName())) {
      return null;
    }
    try {
      java.lang.reflect.Field f = m.getClass().getDeclaredField("entryJsons");
      f.setAccessible(true);
      return (String[]) f.get(m);
    } catch (ReflectiveOperationException e) {
      throw new IllegalStateException(
          "quiverjvm: cross-classloader commit message field access failed", e);
    }
  }

  /** Streaming SINK — the JVM twin of the Python QuiverStreamWriter
   * (quiver_datasource.py:2393, same on-disk protocol, so a stream can
   * switch engines mid-table): each micro-batch's task files stage under
   * a hidden {@code _temporary/} root (readers never descend it) and
   * publish on epoch commit; the per-batch marker log
   * ({@code _quiver_commits/<batchId>}) makes REPLAYED batches idempotent
   * after a driver failure. Every published epoch is ONE manifest commit
   * (CDC-stamped via publishManifest), so downstream changes_since /
   * start_commit consumers tail a streamed table exactly like a batch one.
   * The remaining at-least-once window is a crash BETWEEN publish and the
   * marker write — the Python sink's exact commit-point semantics. */
  static final class QuiverJvmStreamingWrite
      implements org.apache.spark.sql.connector.write.streaming.StreamingWrite {
    private final StructType schema;
    private final Map<String, String> options;
    /** per-query staging root; file names are UUID-unique so epochs
     * can share it — epoch identity lives in the commit messages */
    private final String stageRel =
        "_temporary/jvmstream-"
            + java.util.UUID.randomUUID().toString().replace("-", "");

    QuiverJvmStreamingWrite(StructType schema, Map<String, String> options) {
      this.schema = schema;
      // Hive fan-out via the `partition_by` OPTION: Spark's V2 streaming
      // path silently DROPS DataStreamWriter.partitionBy (the transforms
      // never reach TableProvider.getTable), so the sink can neither
      // honor nor even detect it — the option is the supported spelling,
      // mapped onto the same __partition_cols plumbing the batch writer's
      // partitioning transforms use (task-writer fan-out + partition
      // columns excluded from the interned manifest schema).
      this.options = new HashMap<>(options);
      String pb = this.options.remove("partition_by");
      if (pb != null && !pb.isEmpty()) {
        this.options.put("__partition_cols", pb);
      }
    }

    private String tablePath() {
      String path = QuiverJvmRead.localPath(options.get("path"));
      if (path == null) {
        throw new IllegalArgumentException(
            "quiverjvm streaming sink: no path given (use .start(dir))");
      }
      return path;
    }

    @Override
    public org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
        createStreamingWriterFactory(PhysicalWriteInfo info) {
      String path = tablePath();
      java.io.File stage = new java.io.File(path, stageRel);
      stage.mkdirs();
      // reclaim orphans: a crashed/restarted query's staging root (fresh
      // UUID per QuiverJvmStreamingWrite) is never revisited — its staged
      // files would otherwise accumulate unbounded under _temporary/.
      // Age-gated on the NEWEST mtime anywhere in the staging TREE, not
      // the root dir's own mtime: a directory's mtime only updates on
      // direct-child churn, so a long-running concurrent stream fanning
      // out into partition subdirs could look >24h idle at the root while
      // actively staging — deleting it would fail that stream's next
      // epoch commit (ADVICE r13). The live writer also touches its root
      // on every epoch commit (belt and braces).
      java.io.File[] siblings = stage.getParentFile().listFiles();
      long cutoff = System.currentTimeMillis() - 24L * 3600 * 1000;
      if (siblings != null) {
        for (java.io.File sib : siblings) {
          if (sib.isDirectory()
              && sib.getName().startsWith("jvmstream-")
              && !sib.getName().equals(stage.getName())
              && !treeIsLive(sib, cutoff)) {
            deleteRecursively(sib);
          }
        }
      }
      return new StagedFactory(new QuiverDataWriterFactory(
          stage.getPath(),
          schema.json(),
          options.getOrDefault("codec", "zstd"),
          Integer.parseInt(options.getOrDefault("max_page_size", "8192")),
          Long.parseLong(options.getOrDefault("max_rows_per_file", String.valueOf(1L << 22))),
          options.getOrDefault("bloom_columns", ""),
          options.getOrDefault("__partition_cols", ""),
          Double.parseDouble(options.getOrDefault("compress_ratio", "2.0")),
          options.getOrDefault("forbidden", "")));
    }

    static final class StagedFactory
        implements org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
      private static final long serialVersionUID = 1L;
      private final QuiverDataWriterFactory inner;

      StagedFactory(QuiverDataWriterFactory inner) {
        this.inner = inner;
      }

      @Override
      public org.apache.spark.sql.connector.write.DataWriter<org.apache.spark.sql.catalyst.InternalRow>
          createWriter(int partitionId, long taskId, long epochId) {
        return inner.createWriter(partitionId, taskId);
      }
    }

    @Override
    public void commit(long epochId, WriterCommitMessage[] messages) {
      String path = tablePath();
      java.io.File stage = new java.io.File(path, stageRel);
      java.io.File logDir = new java.io.File(path, "_quiver_commits");
      logDir.mkdirs();
      // heartbeat for the sibling-GC age gate: refresh the staging root's
      // own mtime every trigger so even a fan-out-only epoch (all churn
      // in subdirs) keeps this query's tree visibly live
      stage.setLastModified(System.currentTimeMillis());
      java.io.File marker = new java.io.File(logDir, Long.toString(epochId));
      if (marker.exists()) {
        // replayed batch: its files are already visible — drop the
        // re-staged output instead of double-publishing (Python parity)
        dropStaged(stage, messages);
        return;
      }
      try {
        // publish into the LIVE data root, resolved AT COMMIT TIME — on a
        // generation-layout table the table root is invisible to every
        // reader, and an overwrite mid-stream moves the target (the
        // Python sink's _publish resolves per batch the same way)
        String destRoot = QuiverJvmRead.resolveRoot(path);
        int published = 0;
        for (String rel : stagedRels(messages)) {
          java.io.File dst = new java.io.File(destRoot, rel);
          java.io.File parent = dst.getParentFile();
          if (parent != null) parent.mkdirs();
          // sidecar before data file: a reader that can see the data
          // file always finds its sidecar (task-commit convention)
          java.io.File srcSc = new java.io.File(stage, rel + ".stats.json");
          if (srcSc.exists()) {
            java.nio.file.Files.move(
                srcSc.toPath(),
                new java.io.File(destRoot, rel + ".stats.json").toPath(),
                java.nio.file.StandardCopyOption.REPLACE_EXISTING);
          }
          // same-filesystem rename: size/mtime_ns shipped in the entry
          // facts (stat'd at task commit in the staging dir) stay valid
          java.nio.file.Files.move(
              new java.io.File(stage, rel).toPath(), dst.toPath(),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING);
          published++;
        }
        // one manifest commit per non-empty epoch (empty micro-batches
        // must not inflate the CDC sequence under processing-time
        // triggers — Python parity: _publish skips empty appends)
        if (published > 0) {
          publishManifest(schema, options, false, 0, destRoot, messages);
        }
        // marker LAST: the at-least-once window is a crash between the
        // publish above and this write
        java.io.File tmp = new java.io.File(logDir,
            "." + epochId + ".tmp." + java.util.UUID.randomUUID().toString().replace("-", ""));
        java.nio.file.Files.write(tmp.toPath(),
            "ok".getBytes(java.nio.charset.StandardCharsets.UTF_8));
        java.nio.file.Files.move(tmp.toPath(), marker.toPath(),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE);
        // best-effort prune of the emptied staging tree (task writers
        // recreate dirs on flush, so removing the root is safe)
        pruneEmptyDirs(stage);
      } catch (java.io.IOException e) {
        throw new RuntimeException(
            "quiverjvm streaming commit of batch " + epochId + " failed for " + path, e);
      }
    }

    private static void deleteRecursively(java.io.File dir) {
      java.io.File[] entries = dir.listFiles();
      if (entries != null) {
        for (java.io.File f : entries) {
          if (f.isDirectory()) deleteRecursively(f);
          else f.delete();
        }
      }
      dir.delete();
    }

    /** Is any lastModified in the tree (the root itself included) at or
     * past the cutoff? The orphan-GC liveness signal — a plain dir mtime
     * goes stale the moment staging churn moves into partition subdirs.
     * Short-circuits on the first live mtime: liveness needs ONE witness,
     * not the true max, so a large concurrent staging tree costs O(1)
     * stats per trigger instead of O(files) (ADVICE r14). */
    private static boolean treeIsLive(java.io.File dir, long cutoff) {
      if (dir.lastModified() >= cutoff) return true;
      java.io.File[] entries = dir.listFiles();
      if (entries != null) {
        for (java.io.File f : entries) {
          if (f.isDirectory()
              ? treeIsLive(f, cutoff)
              : f.lastModified() >= cutoff) {
            return true;
          }
        }
      }
      return false;
    }

    /** Delete a directory tree bottom-up, stopping at any non-empty dir
     * (a concurrent epoch's staged files are never touched). */
    private static void pruneEmptyDirs(java.io.File dir) {
      java.io.File[] entries = dir.listFiles();
      if (entries == null) return;
      for (java.io.File f : entries) {
        if (f.isDirectory()) pruneEmptyDirs(f);
      }
      dir.delete(); // succeeds only when emptied
    }

    @Override
    public void abort(long epochId, WriterCommitMessage[] messages) {
      dropStaged(new java.io.File(tablePath(), stageRel), messages);
    }

    private static java.util.List<String> stagedRels(WriterCommitMessage[] messages) {
      com.fasterxml.jackson.databind.ObjectMapper om =
          new com.fasterxml.jackson.databind.ObjectMapper();
      java.util.List<String> rels = new java.util.ArrayList<>();
      for (WriterCommitMessage m : messages) {
        String[] entryJsons = entryJsonsOf(m);
        if (entryJsons == null) continue;
        for (String ej : entryJsons) {
          try {
            rels.add(om.readTree(ej).path("rel").asText());
          } catch (com.fasterxml.jackson.core.JsonProcessingException ex) {
            throw new IllegalStateException(
                "quiverjvm streaming sink: corrupt commit message entry", ex);
          }
        }
      }
      return rels;
    }

    private static void dropStaged(java.io.File stage, WriterCommitMessage[] messages) {
      for (String rel : stagedRels(messages)) {
        new java.io.File(stage, rel).delete();
        new java.io.File(stage, rel + ".stats.json").delete();
      }
    }
  }
}

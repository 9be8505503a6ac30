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
 * QuiverJvmRead (same jar).
 *
 * Named directly, the format commits on its own only for plain batch
 * appends (direct mode("append"), INSERT INTO a catalog table): each
 * task publishes its files and the job commit merges the manifest
 * without the table lock. An overwrite is refused unless the directory
 * is new or empty, and there is no streaming write. Every other write —
 * overwrites, streams, CHECK-constrained tables — goes through
 * quiver_spark.sources.write, which runs this writer into a staging
 * directory and publishes under the table lock. Options:
 *   codec = zstd | lz4 | none   (default zstd; sources.write passes lz4)
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
      // reads) > first footer; Hive partition columns appended; a guard
      // refusal raises here, at load(). `version` pins a
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
          TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ);
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
      if (truncate) refuseOverwriteOfNonEmpty(options);
      return new Write() {
        @Override
        public BatchWrite toBatch() {
          return new QuiverJvmBatchWrite(schema, options);
        }
      };
    }

    /** An overwrite (direct mode("overwrite"), INSERT OVERWRITE) replaces
     * a table, and this writer has no atomic way to do that: its tasks
     * publish their own files, so deleting the old ones first would lose
     * the table when a task fails or when the input reads the table
     * itself. It therefore only writes into a new or empty directory;
     * anything else is refused here, at plan time, before any task runs
     * and before any file changes. */
    private static void refuseOverwriteOfNonEmpty(Map<String, String> options) {
      String path = QuiverJvmRead.localPath(options.get("path"));
      String[] entries = path == null ? null : new java.io.File(path).list();
      if (entries != null && entries.length > 0) {
        throw new UnsupportedOperationException(
            "quiverjvm: refusing to overwrite " + path + ", which is not "
                + "empty — this writer cannot replace a table atomically; "
                + "overwrite through quiver_spark.sources.write, which "
                + "publishes a staged generation swap");
      }
    }

    /** CHECK constraints (maintenance.add_constraint) live in the live
     * manifest and only quiver_spark.sources.write checks them, so a
     * write into such a table is refused here, before any task runs: a
     * violating row can never land through this format. An unreadable
     * manifest counts as none, as in the Python sink. */
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
    /** the RESOLVED data root task writers target (live generation for
     * appends into generation tables) — the job-commit manifest must
     * land there too, not at the table root. */
    private String destRoot;

    QuiverJvmBatchWrite(StructType schema, Map<String, String> options) {
      this.schema = schema;
      this.options = options;
    }

    @Override
    public DataWriterFactory createBatchWriterFactory(PhysicalWriteInfo info) {
      String path = QuiverJvmRead.localPath(options.get("path"));
      if (path == null) {
        throw new IllegalArgumentException("quiverjvm: no path given (use .save(dir))");
      }
      // an append into a generation table resolves the LIVE generation
      // (Python data_root parity): files written at the table root sit
      // where every reader's resolution skips — the job would report
      // success while both engines read none of its rows. Lock-free
      // caveat: an overwrite racing this append can swap generations
      // between here and the job commit, stranding the append in the
      // superseded snapshot; quiver_spark.sources.write commits under
      // the table lock instead.
      try {
        destRoot = QuiverJvmRead.resolveRoot(path);
      } catch (java.io.IOException e) {
        throw new RuntimeException(
            "quiverjvm: cannot resolve live generation of " + path, e);
      }
      new java.io.File(destRoot).mkdirs();
      return new QuiverDataWriterFactory(
          destRoot,
          schema.json(),
          options.getOrDefault("codec", "zstd"),
          Integer.parseInt(options.getOrDefault("max_page_size", "8192")),
          Long.parseLong(options.getOrDefault("max_rows_per_file", String.valueOf(1L << 22))),
          options.getOrDefault("bloom_columns", ""),
          options.getOrDefault("__partition_cols", ""),
          Double.parseDouble(options.getOrDefault("compress_ratio", "2.0")),
          options.getOrDefault("forbidden", ""));
    }

    @Override
    public void commit(WriterCommitMessage[] messages) {
      // task-level rename (tmp -> final) already made every data file +
      // stats sidecar visible; the job commit's remaining duty is the
      // table manifest (sources/manifest.py layout, version 1) so the
      // FIRST scan of an ingested table plans from one metadata read —
      // no rebuild_manifest retrofit pass, no footer re-reads (the task
      // writers shipped the entry facts in their commit messages).
      publishManifest(schema, options, destRoot, messages);
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
          QuiverJvmRead.readManifestRaw(path);
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
   * jar attached at runtime (ADD JAR), task results can deserialize under
   * a different classloader than the one that loaded this class (seen on
   * streaming epochs), making {@code instanceof CommitMsg} silently FALSE
   * — the job commit would then merge no manifest entries. Match by class
   * NAME and read the field reflectively; null = not a quiver commit
   * message. */
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
}

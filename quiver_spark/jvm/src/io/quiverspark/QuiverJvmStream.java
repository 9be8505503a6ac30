package io.quiverspark;

import java.io.File;
import java.io.IOException;
import java.util.ArrayList;
import java.util.List;

import org.apache.arrow.vector.types.pojo.Field;
import org.apache.arrow.vector.types.pojo.Schema;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream;
import org.apache.spark.sql.connector.read.streaming.Offset;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;

/**
 * Streaming SOURCE over a quiver directory on the JVM engine (round 13 —
 * VERDICT r12 Next #6): the Python streaming source's protocol
 * (quiver_spark/sources/quiver_datasource.py QuiverStreamReader)
 * re-expressed as a DSv2 MicroBatchStream, so per-micro-batch planning no
 * longer pays the Python DS's planner-process floor (~0.175 s per batch).
 *
 * Protocol parity (the offset JSON is interchangeable by construction):
 * - an offset is {"files": [sorted table-root-relative names]} — files
 *   are immutable once written (uniquely-named per sink task), so the
 *   consumed set IS the stream position
 * - micro-batches are deltas of the sorted file listing through the LIVE
 *   generation: an overwrite mid-stream surfaces the new generation's
 *   files as brand-new names (gen-NNNNNN/ prefix changes) and the new
 *   snapshot re-ingests wholesale — the file-source convention
 * - max_files_per_trigger: at most N new files admitted per latestOffset
 *   call, cursor monotone and re-seeded from every offset Spark shows us
 *   (checkpointed restarts resume from the committed offset)
 * - start_commit: files the manifest stamps at-or-before the cursor seed
 *   the initial offset as already-consumed (Kafka startingOffsets
 *   analogue over the CDC commit sequence); unvouched files are NOT
 *   skipped (the batch changes_since at-least-once contract)
 *
 * Planning is footer-read-free: one whole-file chunk per new file
 * (pageEnd = -1 sentinel; the executor's reader resolves the page count
 * from the footer it opens anyway), packed into partitions by the
 * manifest's size facts.
 */
final class QuiverJvmStream
    implements MicroBatchStream,
        org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  /** {"files":[...]} offset — sorted table-root-relative names. */
  static final class FilesOffset extends Offset {
    final List<String> files;

    FilesOffset(List<String> files) {
      this.files = files;
    }

    @Override
    public String json() {
      com.fasterxml.jackson.databind.ObjectMapper om =
          new com.fasterxml.jackson.databind.ObjectMapper();
      com.fasterxml.jackson.databind.node.ObjectNode root = om.createObjectNode();
      com.fasterxml.jackson.databind.node.ArrayNode arr = root.putArray("files");
      for (String f : files) arr.add(f);
      return root.toString();
    }

    static FilesOffset fromJson(String json) {
      try {
        com.fasterxml.jackson.databind.JsonNode n =
            new com.fasterxml.jackson.databind.ObjectMapper().readTree(json);
        List<String> out = new ArrayList<>();
        for (com.fasterxml.jackson.databind.JsonNode f : n.withArray("files")) {
          out.add(f.asText());
        }
        return new FilesOffset(out);
      } catch (IOException e) {
        throw new IllegalArgumentException("quiverjvm stream: bad offset " + json, e);
      }
    }
  }

  private final String tablePath;
  private final StructType fullSchema;
  private final StructType required;
  private final List<Object[]> partPreds;
  private final boolean verifyChecksums;
  private final int maxFiles; // <= 0 = unlimited
  private final long startCommit; // < 0 = none
  private final String version; // non-null = stream a PINNED generation
  /** rate-limit cursor: every file name already offered/committed,
   * monotone (Python twin: QuiverStreamReader._last). */
  private final List<String> last = new ArrayList<>();
  private final java.util.Set<String> lastSet = new java.util.HashSet<>();
  /** Trigger.AvailableNow: the listing frozen at query start — batches
   * keep draining toward it (capped by max_files_per_trigger) and the
   * query stops exactly when it is reached. Null outside AvailableNow. */
  private List<String> availableNowTarget;

  @Override
  public void prepareForTriggerAvailableNow() {
    availableNowTarget = listRel();
  }

  @Override
  public Offset reportLatestOffset() {
    return new FilesOffset(
        availableNowTarget != null ? availableNowTarget : listRel());
  }

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): the
  // option-driven cap IS the default read limit; the two-arg form seeds
  // the cursor from Spark's committed start offset before admitting.
  @Override
  public org.apache.spark.sql.connector.read.streaming.ReadLimit getDefaultReadLimit() {
    return maxFiles > 0
        ? org.apache.spark.sql.connector.read.streaming.ReadLimit.maxFiles(maxFiles)
        : org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable();
  }

  @Override
  public Offset latestOffset(Offset startOffset,
      org.apache.spark.sql.connector.read.streaming.ReadLimit limit) {
    if (startOffset != null) advance(((FilesOffset) startOffset).files);
    return latestOffset();
  }

  QuiverJvmStream(String tablePath, StructType fullSchema, StructType required,
      java.util.Map<String, String> opts) {
    this(tablePath, fullSchema, required, opts, java.util.Collections.emptyList());
  }

  QuiverJvmStream(String tablePath, StructType fullSchema, StructType required,
      java.util.Map<String, String> opts, List<Object[]> partPreds) {
    this.tablePath = QuiverJvmRead.localPath(tablePath);
    this.fullSchema = fullSchema;
    this.required = required;
    // accepted (consumed) partition filters from the batch pushdown path
    // — Spark will not re-evaluate them, so every planned batch must
    // enforce them exactly (round 16)
    this.partPreds = partPreds == null
        ? java.util.Collections.emptyList() : partPreds;
    this.verifyChecksums = !"false".equalsIgnoreCase(
        opts.getOrDefault("verify_checksums", "true"));
    // NOTE: the `_quiver_file` metadata column is effectively
    // BATCH-only today. Spark 4.1.2's streaming DSv2 path resolves a
    // selected metadata column into the relation OUTPUT but never
    // delivers it to pruneColumns — the stream's `required` arrives as
    // the plain data schema (probed; the analyzed plan shows the column
    // while the scan cannot see the request), so Spark's own codegen
    // fails reading a column the scan was never asked to produce. The
    // metaIdx wiring in createReaderFactory below stays: the moment a
    // Spark release prunes metadata columns into streaming scans like
    // batch ones, the column works here with no further change
    // (test_jvm_stream_metadata_column_upstream_gap pins today's
    // behavior so that change is noticed).
    this.maxFiles = Integer.parseInt(opts.getOrDefault("max_files_per_trigger", "0"));
    // Batch semantic options on a STREAM: honor what has stream
    // semantics, refuse the rest LOUDLY — silently ignoring an option the
    // batch reader honors is the worst outcome (schema inference already
    // honored `version`, so ignoring it here would decode the live
    // generation's files against a pinned generation's schema).
    this.version = opts.get("version"); // pinned (frozen) generation
    if (opts.containsKey("files")) {
      throw new UnsupportedOperationException(
          "quiverjvm stream: the files= subset option has no streaming "
              + "semantics (a stream tails a table, not a fixed file list) "
              + "— use a batch read");
    }
    if ("true".equalsIgnoreCase(opts.getOrDefault("merge_schemas", "false"))) {
      throw new UnsupportedOperationException(
          "quiverjvm stream: merge_schemas tables are batch-only on the "
              + "JVM engine — read it in batch or declare a table schema "
              + "(ALTER)");
    }
    // changes_since on a stream IS start_commit: seed the initial offset
    // at the cursor, deliver the delta, keep tailing (the batch option's
    // at-least-once contract carries over; start_commit wins when both
    // are given since it is the stream-native spelling)
    String sc = opts.get("start_commit");
    if (sc == null) sc = opts.get("changes_since");
    this.startCommit = sc == null ? -1L : Long.parseLong(sc);
  }

  private void advance(List<String> files) {
    for (String f : files) {
      if (lastSet.add(f)) last.add(f);
    }
  }

  /** Current committed files as table-root-relative sorted names (listing
   * resolves through the LIVE generation each call). */
  private List<String> listRel() {
    try {
      String root = QuiverJvmRead.resolveRoot(tablePath, version);
      List<File> files = new ArrayList<>();
      QuiverJvmRead.listFiles(new File(root), files);
      java.nio.file.Path tp = new File(tablePath).toPath();
      List<String> rel = new ArrayList<>(files.size());
      for (File f : files) {
        rel.add(tp.relativize(f.toPath()).toString().replace(File.separatorChar, '/'));
      }
      java.util.Collections.sort(rel);
      return rel;
    } catch (IOException e) {
      throw new RuntimeException(e);
    }
  }

  @Override
  public Offset initialOffset() {
    if (startCommit < 0) return new FilesOffset(new ArrayList<>());
    try {
      String root = QuiverJvmRead.resolveRoot(tablePath, version);
      com.fasterxml.jackson.databind.JsonNode man = QuiverJvmRead.readManifestRaw(root);
      com.fasterxml.jackson.databind.JsonNode manFiles =
          man == null ? null : man.get("files");
      List<String> consumed = new ArrayList<>();
      if (manFiles != null) {
        java.nio.file.Path rootP = new File(root).toPath();
        java.nio.file.Path tp = new File(tablePath).toPath();
        List<File> files = new ArrayList<>();
        QuiverJvmRead.listFiles(new File(root), files);
        for (File f : files) {
          String rel = rootP.relativize(f.toPath()).toString().replace(File.separatorChar, '/');
          com.fasterxml.jackson.databind.JsonNode e = manFiles.get(rel);
          if (e != null && e.path("size").asLong(-1) == f.length()
              && e.path("commit").asLong(0) <= startCommit) {
            consumed.add(tp.relativize(f.toPath()).toString().replace(File.separatorChar, '/'));
          }
        }
      }
      java.util.Collections.sort(consumed);
      advance(consumed); // seed the rate-limit cursor (Python-twin rule)
      return new FilesOffset(consumed);
    } catch (IOException e) {
      throw new RuntimeException(e);
    }
  }

  @Override
  public Offset latestOffset() {
    List<String> current =
        availableNowTarget != null ? availableNowTarget : listRel();
    if (maxFiles <= 0) return new FilesOffset(current);
    List<String> fresh = new ArrayList<>();
    for (String f : current) {
      if (!lastSet.contains(f)) fresh.add(f);
    }
    java.util.Collections.sort(fresh);
    advance(fresh.subList(0, Math.min(maxFiles, fresh.size())));
    return new FilesOffset(new ArrayList<>(last));
  }

  @Override
  public InputPartition[] planInputPartitions(Offset start, Offset end) {
    List<String> s = ((FilesOffset) start).files;
    List<String> e = ((FilesOffset) end).files;
    advance(s);
    advance(e);
    java.util.Set<String> seen = new java.util.HashSet<>(s);
    List<String> fresh = new ArrayList<>();
    for (String f : e) {
      if (!seen.contains(f)) fresh.add(f);
    }
    if (fresh.isEmpty()) return new InputPartition[0];
    try {
      // manifest facts for the LIVE root (offset names from retained
      // older generations simply miss the lookup — identity resolution)
      String root = QuiverJvmRead.resolveRoot(tablePath, version);
      com.fasterxml.jackson.databind.JsonNode man = QuiverJvmRead.readManifestRaw(root);
      QuiverJvmRead.guardManifestNode(man);
      com.fasterxml.jackson.databind.JsonNode manFiles =
          man == null ? null : man.get("files");

      // column-resolution context, batch-planner parity: declared
      // defaults, expected column names (no declared schema), Hive
      // partition constants discovered over the FULL live listing (kind
      // inference must not flip per batch on a value subset)
      java.util.HashMap<String, Object> tblDefaults = null;
      if (man != null && man.has("column_defaults")) {
        tblDefaults = new java.util.HashMap<>();
        com.fasterxml.jackson.databind.JsonNode cd = man.get("column_defaults");
        for (java.util.Iterator<String> it = cd.fieldNames(); it.hasNext(); ) {
          String nm = it.next();
          com.fasterxml.jackson.databind.JsonNode v = cd.get(nm);
          Object o = v.isTextual() ? v.asText()
              : v.isBoolean() ? (Object) v.asBoolean()
              : v.isIntegralNumber() ? (Object) v.asLong() : (Object) v.asDouble();
          tblDefaults.put(nm, o);
        }
      }
      List<File> allFiles = new ArrayList<>();
      QuiverJvmRead.listFiles(new File(root), allFiles);
      QuiverJvmRead.PartInfo hive = QuiverJvmRead.discoverPartitions(root, allFiles);
      java.util.Set<String> fileColNames = new java.util.HashSet<>();
      if (hive.cols.length > 0) {
        Schema dataArrow = QuiverJvmRead.declaredSchema(man);
        if (dataArrow == null) dataArrow = QuiverJvmRead.manifestSchema(man);
        if (dataArrow != null) {
          for (Field f : dataArrow.getFields()) fileColNames.add(f.getName());
        }
      }
      java.util.Set<String> partCols = new java.util.HashSet<>();
      for (String c : hive.cols) {
        if (!fileColNames.contains(c)) partCols.add(c);
      }
      // accepted partition filters (round 16): Spark consumed them at
      // batch pushdown, so every planned batch must enforce them exactly.
      // If a filtered column has meanwhile become a DATA column in the
      // live schema (the data-wins collision rule), path constants are no
      // longer authoritative for it — the filter was consumed, so silence
      // would mean wrong rows: fail loudly, like partFilterMatches' kind
      // drift.
      if (!partPreds.isEmpty()) {
        for (Object[] pp : partPreds) {
          if (fileColNames.contains((String) pp[1])) {
            throw new IllegalStateException(
                "quiverjvm stream: accepted partition-filter column '"
                    + pp[1] + "' is now a data column — path constants are "
                    + "no longer authoritative; re-run the query");
          }
        }
      }
      StructType expectSchema = null;
      if (man == null || !man.has("table_schema")) {
        expectSchema = new StructType();
        for (StructField f : fullSchema.fields()) {
          if (!partCols.contains(f.name())) expectSchema = expectSchema.add(f);
        }
      }

      java.nio.file.Path rootP = new File(root).toPath();
      // pack whole-file chunks into ~defaultParallelism partitions by
      // manifest byte size (footer-read-free; small batches fan out one
      // file per task, backfills stay bounded)
      int parallelism = 8;
      try {
        parallelism = org.apache.spark.sql.SparkSession.active()
            .sparkContext().defaultParallelism();
      } catch (Exception ignore) {
      }
      long totalBytes = 0;
      List<QuiverJvmRead.Chunk> chunks = new ArrayList<>();
      List<Long> sizes = new ArrayList<>();
      for (String rel : fresh) {
        File f = new File(tablePath, rel);
        if (!f.isFile()) continue; // vanished between listing and planning
        if (!partPreds.isEmpty()
            && QuiverJvmRead.applyPartPreds(hive,
                java.util.Collections.singletonList(f), partPreds).isEmpty()) {
          // exact whole-file drop — the offset still advances past the
          // file (monotone), it just contributes zero planned rows
          continue;
        }
        String dataRel = f.toPath().startsWith(rootP)
            ? rootP.relativize(f.toPath()).toString().replace(File.separatorChar, '/')
            : null;
        com.fasterxml.jackson.databind.JsonNode entry =
            dataRel == null || manFiles == null ? null : manFiles.get(dataRel);
        java.util.HashMap<String, String> cmap = QuiverJvmRead.entryCmap(entry);
        String[] rawVals = hive.rawByFile.get(f.getPath());
        java.util.HashMap<String, Object> partVals = new java.util.HashMap<>();
        for (int i = 0; i < hive.cols.length; i++) {
          if (!partCols.contains(hive.cols[i])) continue;
          partVals.put(hive.cols[i],
              QuiverJvmRead.partTyped(rawVals == null ? null : rawVals[i], hive.kinds[i]));
        }
        chunks.add(new QuiverJvmRead.Chunk(
            f.getPath(), dataRel == null ? rel : dataRel, 0, -1,
            partVals, cmap, expectSchema, tblDefaults, verifyChecksums));
        sizes.add(f.length());
        totalBytes += f.length();
      }
      if (chunks.isEmpty()) return new InputPartition[0];
      long floor = Math.max(totalBytes / Math.max(parallelism, 1), 1L);
      List<InputPartition> parts = new ArrayList<>();
      List<QuiverJvmRead.Chunk> open = new ArrayList<>();
      long acc = 0;
      for (int i = 0; i < chunks.size(); i++) {
        open.add(chunks.get(i));
        acc += sizes.get(i);
        if (acc >= floor) {
          parts.add(new QuiverJvmRead.QuiverInputPartition(
              open.toArray(new QuiverJvmRead.Chunk[0])));
          open = new ArrayList<>();
          acc = 0;
        }
      }
      if (!open.isEmpty()) {
        parts.add(new QuiverJvmRead.QuiverInputPartition(
            open.toArray(new QuiverJvmRead.Chunk[0])));
      }
      return parts.toArray(new InputPartition[0]);
    } catch (IOException ex) {
      throw new RuntimeException(ex);
    }
  }

  @Override
  public PartitionReaderFactory createReaderFactory() {
    // the file-identity metadata column resolves on streaming relations
    // too (round 14) — mirror QuiverScan.createReaderFactory's index so
    // the reader emits the per-chunk constant instead of under-building
    // the batch (pre-fix: ArrayIndexOutOfBounds in ColumnarBatch.column)
    int metaIdx = -1;
    boolean shadowed = false;
    for (org.apache.spark.sql.types.StructField f : fullSchema.fields()) {
      if (f.name().equals(QuiverJvmRead.META_FILE_COL)) {
        shadowed = true;
        break;
      }
    }
    if (!shadowed) {
      org.apache.spark.sql.types.StructField[] rf = required.fields();
      for (int i = 0; i < rf.length; i++) {
        if (rf[i].name().equals(QuiverJvmRead.META_FILE_COL)) {
          metaIdx = i;
          break;
        }
      }
    }
    return new QuiverJvmRead.QuiverReaderFactory(required.json(), metaIdx);
  }

  @Override
  public Offset deserializeOffset(String json) {
    return FilesOffset.fromJson(json);
  }

  @Override
  public void commit(Offset end) {
    advance(((FilesOffset) end).files);
  }

  @Override
  public void stop() {}
}

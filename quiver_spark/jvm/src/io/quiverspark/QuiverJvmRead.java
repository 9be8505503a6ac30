package io.quiverspark;

import java.io.ByteArrayInputStream;
import java.io.File;
import java.io.IOException;
import java.io.RandomAccessFile;
import java.io.Serializable;
import java.math.BigDecimal;
import java.math.BigInteger;
import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.nio.channels.Channels;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.util.ArrayList;
import java.util.List;
import java.util.zip.GZIPInputStream;

import org.apache.arrow.vector.ipc.ReadChannel;
import org.apache.arrow.vector.ipc.message.MessageSerializer;
import org.apache.arrow.vector.types.pojo.ArrowType;
import org.apache.arrow.vector.types.pojo.Field;
import org.apache.arrow.vector.types.pojo.Schema;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.connector.read.Batch;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.connector.read.Scan;
import org.apache.spark.sql.connector.read.ScanBuilder;
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns;
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.Decimal;
import org.apache.spark.sql.types.DecimalType;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.vectorized.ColumnarBatch;

/**
 * JVM scan for quiver tables ("quiverjvm" read path): full adaptive codec
 * surface (QuiverPageDecoder), emitting ColumnarBatch per page so
 * whole-stage codegen consumes columns directly — no JVM→Python boundary,
 * no planner-process spawn. The floor-bound Python-DS proxies (narrow
 * projection, many small files) are this path's targets.
 *
 * Served since round 11 (previously Python-DS-only):
 * - Hive-partitioned layouts: directory-key columns are plan-time
 *   constants appended per split; predicates on them prune whole files
 * - ALTER-DDL tables (declared table_schema, per-file cmap renames):
 *   columns resolve per file BY NAME through the cmap; columns a file
 *   predates null-fill (add_column semantics)
 * Served since round 12:
 * - nested types (list/large-list/fixed-size-list/struct/map, arbitrary
 *   nesting) via the QuiverNested Dremel rep/def assembler
 * - unsigned ints, zero-extended into the widened Spark types
 *   (uint8→short, uint16→int, uint32→long, uint64→decimal(20,0))
 * - large_utf8/large_binary (8-byte-offset decode paths)
 * - column initial-defaults: constant-filled per chunk from the manifest
 *   for files that predate the ALTER add_column
 * Served since round 13:
 * - semantic reader options: version (time travel), changes_since (CDC
 *   cursor), files (rewrite subsets), merge_schemas (union-by-name)
 * - non-us timestamp units (s/ms/ns), converted to Spark's us at decode
 *   with pyarrow safe-cast parity (truncating ns values raise)
 * Refused at plan time, never misread (UnsupportedOperationException
 * naming the remedy):
 * - exotic leaf shapes (half floats, decimal256, date64) and non-scalar
 *   or unfillable default values
 * - tables whose files carry different columns, without the
 *   merge_schemas option
 * Generation layouts resolve through `_current` exactly like the Python
 * planner; column pruning arrives via Catalyst's
 * SupportsPushDownRequiredColumns (the JVM DSv2 gets what the Python DS
 * structurally cannot).
 */
public final class QuiverJvmRead {
  private QuiverJvmRead() {}

  // ---- table resolution --------------------------------------------------

  /** Catalog tables hand paths as file: URIs (CREATE TABLE ... LOCATION
   * normalizes through the session's Hadoop filesystem) — strip the
   * scheme so local java.io access works. Non-file schemes pass through
   * untouched and fail loudly downstream (this reader is local-fs). */
  static String localPath(String p) {
    if (p == null || !p.startsWith("file:")) return p;
    try {
      return java.nio.file.Paths.get(java.net.URI.create(p)).toString();
    } catch (RuntimeException e) {
      // URI-hostile characters: best-effort prefix strip
      String s = p.substring("file:".length());
      while (s.startsWith("//")) s = s.substring(1);
      return s;
    }
  }

  static String resolveRoot(String path) throws IOException {
    path = localPath(path);
    File cur = new File(path, "_current");
    if (cur.isFile()) {
      String gen = new String(Files.readAllBytes(cur.toPath()), StandardCharsets.UTF_8).trim();
      return new File(path, gen).getPath();
    }
    return path;
  }

  /** Time-travel root resolution (Python-DS `_data_root` parity): a
   * non-null version pins a RETAINED generation directory — numeric
   * versions format as gen-%06d, anything else must already be a full
   * generation name. A version that is not retained fails loudly with
   * the retained list (never a silent wrong-generation read). */
  static String resolveRoot(String path, String version) throws IOException {
    path = localPath(path);
    if (version == null || version.isEmpty()) return resolveRoot(path);
    String name = version.matches("\\d+")
        ? String.format("gen-%06d", Long.parseLong(version))
        : version;
    File d = new File(path, name);
    if (!name.matches("gen-\\d{6,}") || !d.isDirectory()) {
      List<String> avail = new ArrayList<>();
      File[] entries = new File(path).listFiles();
      if (entries != null) {
        java.util.Arrays.sort(entries);
        for (File e : entries) {
          if (e.isDirectory() && e.getName().matches("gen-\\d{6,}")) {
            avail.add(e.getName());
          }
        }
      }
      throw new IllegalArgumentException(
          "quiverjvm: version " + version + " not found under " + path
              + "; retained generations: " + (avail.isEmpty() ? "none" : avail)
              + " (older generations are kept only when written with"
              + " keep_generations > 1)");
    }
    return d.getPath();
  }

  /** Committed data files under a resolved root (snapshot.list_files
   * parity): hidden/underscore names are skipped at any depth, and so
   * are generation directories directly under the root — under a flat
   * root they are uncommitted claims, never part of the table. */
  static void listFiles(File dir, List<File> out) {
    if (dir.isFile()) {
      // single-file path (Python-DS _list_files_pattern parity): scan
      // exactly this file, whatever its name
      out.add(dir);
      return;
    }
    listFiles(dir, out, true);
  }

  private static void listFiles(File dir, List<File> out, boolean root) {
    File[] entries = dir.listFiles();
    if (entries == null) return;
    java.util.Arrays.sort(entries);
    for (File e : entries) {
      String n = e.getName();
      if (n.startsWith("_") || n.startsWith(".")) continue;
      if (e.isDirectory()) {
        if (!(root && n.matches("gen-\\d{6,}"))) listFiles(e, out, false);
      } else if (n.endsWith(".quiver")) {
        out.add(e);
      }
    }
  }

  // ---- Hive partition discovery (mirror of the Python DS's
  // _discover_partitions: col=value path segments, long→double→string kind
  // inference, __HIVE_DEFAULT_PARTITION__ → null, %-unquoted values) ------

  static final String HIVE_NULL = "__HIVE_DEFAULT_PARTITION__";

  /** %xx-only unquote (urllib.parse.unquote semantics: '+' stays '+'). */
  static String unquote(String s) {
    if (s.indexOf('%') < 0) return s;
    java.io.ByteArrayOutputStream bos = new java.io.ByteArrayOutputStream();
    for (int i = 0; i < s.length(); i++) {
      char c = s.charAt(i);
      if (c == '%' && i + 2 < s.length()) {
        try {
          bos.write(Integer.parseInt(s.substring(i + 1, i + 3), 16));
          i += 2;
          continue;
        } catch (NumberFormatException ignore) {
        }
      }
      byte[] b = String.valueOf(c).getBytes(StandardCharsets.UTF_8);
      bos.write(b, 0, b.length);
    }
    return new String(bos.toByteArray(), StandardCharsets.UTF_8);
  }

  static final class PartInfo {
    final String[] cols;   // discovery order (Python DS parity)
    final String[] kinds;  // "long" | "double" | "string"
    final java.util.Map<String, String[]> rawByFile; // file path → per-col raw value (null = missing/HIVE_NULL)

    PartInfo(String[] cols, String[] kinds, java.util.Map<String, String[]> rawByFile) {
      this.cols = cols;
      this.kinds = kinds;
      this.rawByFile = rawByFile;
    }
  }

  static PartInfo discoverPartitions(String root, List<File> files) {
    java.nio.file.Path rootP = new File(root).toPath();
    List<String> cols = new ArrayList<>();
    java.util.Map<String, java.util.Map<String, String>> raw = new java.util.HashMap<>();
    for (File f : files) {
      java.util.Map<String, String> spec = new java.util.HashMap<>();
      java.nio.file.Path rel = rootP.relativize(f.toPath()).getParent();
      if (rel != null) {
        for (java.nio.file.Path seg : rel) {
          String s = seg.toString();
          int eq = s.indexOf('=');
          if (eq < 0) continue;
          String k = s.substring(0, eq);
          spec.put(k, unquote(s.substring(eq + 1)));
          if (!cols.contains(k)) cols.add(k);
        }
      }
      raw.put(f.getPath(), spec);
    }
    String[] kinds = new String[cols.size()];
    for (int ci = 0; ci < cols.size(); ci++) {
      String kind = "long";
      for (File f : files) {
        String v = raw.get(f.getPath()).get(cols.get(ci));
        if (v == null || HIVE_NULL.equals(v)) continue;
        if (kind.equals("long")) {
          try {
            Long.parseLong(v);
            continue;
          } catch (NumberFormatException e) {
            kind = "double";
          }
        }
        try {
          Double.parseDouble(v);
        } catch (NumberFormatException e) {
          kind = "string";
          break;
        }
      }
      kinds[ci] = kind;
    }
    java.util.Map<String, String[]> byFile = new java.util.HashMap<>();
    for (File f : files) {
      String[] vals = new String[cols.size()];
      for (int ci = 0; ci < cols.size(); ci++) {
        String v = raw.get(f.getPath()).get(cols.get(ci));
        vals[ci] = (v == null || HIVE_NULL.equals(v)) ? null : v;
      }
      byFile.put(f.getPath(), vals);
    }
    return new PartInfo(cols.toArray(new String[0]), kinds, byFile);
  }

  /** Does any directory at ANY depth under {@code dir} look like a Hive
   * `k=v` segment? Mirrors discoverPartitions' acceptance (key segments
   * can sit below plain grouping dirs, e.g. root/batch/day=1/...) while
   * staying cheap for the common unpartitioned table: only DIRECTORIES
   * are walked, hidden/underscore names skipped like listFiles, and the
   * walk exits on the first hit. */
  static boolean anyKeyDirDeep(File dir) {
    File[] entries = dir.listFiles();
    if (entries == null) return false;
    for (File e : entries) {
      String n = e.getName();
      if (n.startsWith("_") || n.startsWith(".")) continue;
      if (e.isDirectory()) {
        if (n.indexOf('=') >= 0 || anyKeyDirDeep(e)) return true;
      }
    }
    return false;
  }

  static DataType partSparkType(String kind) {
    switch (kind) {
      case "long": return DataTypes.LongType;
      case "double": return DataTypes.DoubleType;
      default: return DataTypes.StringType;
    }
  }

  /** {op, col, kind, value} when the filter is EXACTLY evaluable on a
   * partition path constant: whitelisted class, single partition-column
   * attribute, value inside the kind's exact comparison domain. Strings
   * accept only equality-shaped ops (UTF8String binary order and Java
   * String order diverge on supplementary code points, so string ranges
   * stay residual). Null anywhere unexpected → null (stays residual). */
  static Object[] translatePartitionFilter(
      org.apache.spark.sql.sources.Filter f,
      java.util.Map<String, String> kinds) {
    if (kinds.isEmpty()) return null;
    String col;
    String op;
    Object value = null;
    if (f instanceof org.apache.spark.sql.sources.IsNull) {
      col = ((org.apache.spark.sql.sources.IsNull) f).attribute();
      op = "isnull";
    } else if (f instanceof org.apache.spark.sql.sources.IsNotNull) {
      col = ((org.apache.spark.sql.sources.IsNotNull) f).attribute();
      op = "isnotnull";
    } else if (f instanceof org.apache.spark.sql.sources.EqualTo) {
      col = ((org.apache.spark.sql.sources.EqualTo) f).attribute();
      value = ((org.apache.spark.sql.sources.EqualTo) f).value();
      op = "eq";
    } else if (f instanceof org.apache.spark.sql.sources.EqualNullSafe) {
      col = ((org.apache.spark.sql.sources.EqualNullSafe) f).attribute();
      value = ((org.apache.spark.sql.sources.EqualNullSafe) f).value();
      op = "eqns";
    } else if (f instanceof org.apache.spark.sql.sources.GreaterThan) {
      col = ((org.apache.spark.sql.sources.GreaterThan) f).attribute();
      value = ((org.apache.spark.sql.sources.GreaterThan) f).value();
      op = "gt";
    } else if (f instanceof org.apache.spark.sql.sources.GreaterThanOrEqual) {
      col = ((org.apache.spark.sql.sources.GreaterThanOrEqual) f).attribute();
      value = ((org.apache.spark.sql.sources.GreaterThanOrEqual) f).value();
      op = "ge";
    } else if (f instanceof org.apache.spark.sql.sources.LessThan) {
      col = ((org.apache.spark.sql.sources.LessThan) f).attribute();
      value = ((org.apache.spark.sql.sources.LessThan) f).value();
      op = "lt";
    } else if (f instanceof org.apache.spark.sql.sources.LessThanOrEqual) {
      col = ((org.apache.spark.sql.sources.LessThanOrEqual) f).attribute();
      value = ((org.apache.spark.sql.sources.LessThanOrEqual) f).value();
      op = "le";
    } else if (f instanceof org.apache.spark.sql.sources.In) {
      col = ((org.apache.spark.sql.sources.In) f).attribute();
      String kind0 = kinds.get(col);
      if (kind0 == null) return null;
      Object[] vs = ((org.apache.spark.sql.sources.In) f).values();
      if (vs == null) return null;
      for (Object v : vs) {
        if (v != null && !partValueInDomain(kind0, v, "in")) return null;
      }
      return new Object[] {"in", col, kind0, vs};
    } else {
      return null;
    }
    String kind = kinds.get(col);
    if (kind == null) return null;
    boolean needsValue = !op.equals("isnull") && !op.equals("isnotnull");
    if (needsValue && !op.equals("eqns") && value == null) return null;
    if (value != null && !partValueInDomain(kind, value, op)) return null;
    return new Object[] {op, col, kind, value};
  }

  /** Is this literal inside the kind's EXACT comparison domain for the
   * op? long kind: integral literals only (a fractional literal against
   * a long column arrives pre-cast and never reaches here anyway);
   * double kind: any number; string kind: strings, equality ops only. */
  static boolean partValueInDomain(String kind, Object v, String op) {
    switch (kind) {
      case "long":
        return v instanceof Byte || v instanceof Short
            || v instanceof Integer || v instanceof Long;
      case "double":
        return v instanceof Number;
      default:
        return v instanceof String
            && (op.equals("eq") || op.equals("eqns") || op.equals("in"));
    }
  }

  static int partCmp(String kind, Object a, Object b) {
    switch (kind) {
      case "long":
        return Long.compare(((Number) a).longValue(), ((Number) b).longValue());
      case "double": {
        // Spark SQL's double ordering (SQLOrderingUtil.compareDoubles):
        // the == short-circuit makes -0.0 = 0.0 TRUE (raw Double.compare
        // would order them), while NaN = NaN stays true and NaN sorts
        // greatest — exactly Double.compare's behavior for the rest
        double x = ((Number) a).doubleValue();
        double y = ((Number) b).doubleValue();
        return x == y ? 0 : Double.compare(x, y);
      }
      default:
        return ((String) a).compareTo((String) b);
    }
  }

  /** Exact evaluation of one accepted partition filter on one file's
   * RAW path value (null = missing segment / HIVE_NULL). A raw value
   * that no longer parses under the filter's accepted kind (a writer
   * added an incompatible partition value between pushdown and plan —
   * the same race breaks the scan's own typed constants) fails LOUDLY:
   * the filter was consumed, so silence would mean wrong rows. */
  static boolean partFilterMatches(Object[] pp, String raw) {
    String op = (String) pp[0];
    String kind = (String) pp[2];
    Object val = pp[3];
    Object v;
    try {
      v = partTyped(raw, kind);
    } catch (NumberFormatException nfe) {
      throw new IllegalStateException(
          "quiverjvm: partition value '" + raw + "' no longer parses as "
              + kind + " for accepted filter on '" + pp[1]
              + "' — a concurrent writer changed the partition value "
              + "domain mid-plan; re-run the query", nfe);
    }
    switch (op) {
      case "isnull":
        return v == null;
      case "isnotnull":
        return v != null;
      case "eqns":
        if (v == null || val == null) return v == null && val == null;
        return partCmp(kind, v, val) == 0;
      case "in": {
        if (v == null) return false;
        for (Object o : (Object[]) val) {
          if (o != null && partCmp(kind, v, o) == 0) return true;
        }
        return false;
      }
      default: {
        if (v == null) return false;
        int c = partCmp(kind, v, val);
        switch (op) {
          case "eq": return c == 0;
          case "gt": return c > 0;
          case "ge": return c >= 0;
          case "lt": return c < 0;
          default: return c <= 0; // le
        }
      }
    }
  }

  /** Drop files whose path constants fail an accepted partition filter —
   * EXACT whole-file filtering (cols absent from the listing evaluate
   * as null, matching the scan's null fill for files outside the key).
   * Takes the PLAN's single PartInfo — discovered over the UNFILTERED
   * listing — so value kinds cannot drift when the filter narrows the
   * file set (kind re-inference over a kept subset once flipped a
   * string partition to long and corrupted emitted values). */
  static List<File> applyPartPreds(
      PartInfo hp, List<File> files, List<Object[]> partPreds) {
    if (partPreds == null || partPreds.isEmpty() || files.isEmpty()
        || hp == null) {
      return files;
    }
    // pred → column index, resolved once (file-invariant)
    int[] ci = new int[partPreds.size()];
    for (int p = 0; p < partPreds.size(); p++) {
      ci[p] = -1;
      for (int i = 0; i < hp.cols.length; i++) {
        if (hp.cols[i].equals(partPreds.get(p)[1])) {
          ci[p] = i;
          break;
        }
      }
    }
    List<File> kept = new ArrayList<>();
    for (File f : files) {
      String[] rv = hp.rawByFile.get(f.getPath());
      boolean ok = true;
      for (int p = 0; p < partPreds.size(); p++) {
        String raw = (ci[p] < 0 || rv == null) ? null : rv[ci[p]];
        if (!partFilterMatches(partPreds.get(p), raw)) {
          ok = false;
          break;
        }
      }
      if (ok) kept.add(f);
    }
    return kept;
  }

  static Object partTyped(String raw, String kind) {
    if (raw == null) return null;
    switch (kind) {
      case "long": return Long.parseLong(raw);
      case "double": return Double.parseDouble(raw);
      default: return raw;
    }
  }

  /** Plan-time footer reads (test pin: manifest-served planning must do
   * ZERO of these — the round-8/9 O(files) metadata lesson, JVM edition). */
  static final java.util.concurrent.atomic.AtomicLong PLAN_FOOTER_READS =
      new java.util.concurrent.atomic.AtomicLong();

  /** Pages excluded by zone-map pruning across plans (test observability). */
  static final java.util.concurrent.atomic.AtomicLong PAGES_PRUNED =
      new java.util.concurrent.atomic.AtomicLong();

  /** py4j-friendly accessors (AtomicLong is a Number — py4j unboxes it). */
  public static long planFooterReads() {
    return PLAN_FOOTER_READS.get();
  }

  public static long pagesPruned() {
    return PAGES_PRUNED.get();
  }

  public static void resetPagesPruned() {
    PAGES_PRUNED.set(0);
  }

  /** Test hook (round 16): drive one micro-batch of a stream carrying an
   * accepted `col = value` partition filter. Spark 4.1.2 never pushes
   * filters into streaming scans, so the enforcement (VERDICT r15 Next
   * #4) is exercised directly: plans from `startJson` (null/empty =
   * stream start) to the current latest offset and returns JSON
   * {"end": offset-json, "files": [planned chunk rel names]} — a second
   * call with the returned `end` IS a checkpoint restart. */
  public static String streamPartFilterProbe(String path, String col,
      String kind, Object value, String startJson) throws Exception {
    StructType full = inferTableSchema(path);
    List<Object[]> pp = new ArrayList<>();
    pp.add(new Object[] {"eq", col, kind, value});
    QuiverJvmStream st = new QuiverJvmStream(path, full, full,
        new java.util.HashMap<>(), pp);
    org.apache.spark.sql.connector.read.streaming.Offset start =
        (startJson == null || startJson.isEmpty())
            ? st.initialOffset() : st.deserializeOffset(startJson);
    org.apache.spark.sql.connector.read.streaming.Offset end =
        st.latestOffset();
    InputPartition[] parts = st.planInputPartitions(start, end);
    List<String> rels = new ArrayList<>();
    for (InputPartition ip : parts) {
      for (Chunk c : ((QuiverInputPartition) ip).chunks) rels.add(c.rel);
    }
    java.util.Collections.sort(rels);
    com.fasterxml.jackson.databind.ObjectMapper om =
        new com.fasterxml.jackson.databind.ObjectMapper();
    com.fasterxml.jackson.databind.node.ObjectNode o = om.createObjectNode();
    o.put("end", end.json());
    com.fasterxml.jackson.databind.node.ArrayNode arr = o.putArray("files");
    for (String r : rels) arr.add(r);
    return o.toString();
  }

  /** Test hook: BLAKE2b-128 hex of raw bytes (parity vs hashlib.blake2b). */
  public static String blake2b128Hex(byte[] data) {
    byte[] d = Blake2b.digest(data, 16);
    StringBuilder sb = new StringBuilder(32);
    for (byte b : d) sb.append(String.format("%02x", b));
    return sb.toString();
  }

  public static void resetPlanFooterReads() {
    PLAN_FOOTER_READS.set(0);
  }

  /** Parsed commit-time manifest (sources/manifest.py's _manifest.json.gz),
   * or null when absent. Parsing uses the Jackson bundled with Spark. */
  static com.fasterxml.jackson.databind.JsonNode readManifestRaw(String root)
      throws IOException {
    File man = new File(root, "_manifest.json.gz");
    if (!man.isFile()) return null;
    byte[] gz = Files.readAllBytes(man.toPath());
    try (GZIPInputStream in = new GZIPInputStream(new ByteArrayInputStream(gz))) {
      return new com.fasterxml.jackson.databind.ObjectMapper().readTree(in);
    }
  }

  /** Reject table-level semantics this reader cannot honor — loudly,
   * never by misreading. */
  static void guardManifestNode(com.fasterxml.jackson.databind.JsonNode m) {
    guardManifestNode(m, false);
  }

  static void guardManifestNode(
      com.fasterxml.jackson.databind.JsonNode m, boolean mergeSchemas) {
    if (m == null) return;
    // column initial-defaults (round-12 lift): manifest-declared JSON
    // scalars, constant-filled per chunk for files that predate the
    // column. encode_default only ever stores text/bool/int/float, so a
    // non-scalar value is foreign/corrupt — refuse rather than misread.
    if (m.has("column_defaults")) {
      com.fasterxml.jackson.databind.JsonNode cd = m.get("column_defaults");
      // declared types for fillability validation (below): a default the
      // reader's typedConstant cannot materialize (binary/array/map/…)
      // must refuse HERE, at plan time, not executor-side in
      // PartitionReader init after the job started (ADVICE r12).
      Schema declared = declaredSchema(m);
      for (java.util.Iterator<String> it = cd.fieldNames(); it.hasNext(); ) {
        String name = it.next();
        com.fasterxml.jackson.databind.JsonNode v = cd.get(name);
        if (!v.isTextual() && !v.isBoolean() && !v.isNumber()) {
          throw new UnsupportedOperationException(
              "quiverjvm: non-scalar column default " + v + " for '" + name
                  + "': a foreign or corrupt manifest (maintenance.add_column"
                  + " stores JSON scalars only)");
        }
        if (declared != null) {
          for (Field f : declared.getFields()) {
            if (!f.getName().equals(name)) continue;
            DataType t = sparkType(f); // throws UOE on extended types — also a guard refusal
            if (!QuiverColumnarReader.defaultFillable(t)) {
              throw new UnsupportedOperationException(
                  "quiverjvm: column default on type " + t + " for '" + name
                      + "' cannot be filled: declare the column without a "
                      + "default (maintenance.add_column refuses this one)");
            }
          }
        }
      }
    }
    // ALTER-DDL tables (declared table_schema, per-file rename maps) are
    // served since round 11: the reader resolves columns per file BY NAME
    // through the cmap and null-fills columns a file predates. Without a
    // declared schema, heterogeneous per-file schemas are rejected UNLESS
    // the caller opted into merge-schemas union semantics (round 13) —
    // footer inference would otherwise pick one schema arbitrarily.
    if (!mergeSchemas && !m.has("table_schema")) {
      com.fasterxml.jackson.databind.JsonNode files = m.get("files");
      if (files != null) {
        java.util.LinkedHashSet<Integer> idxs = new java.util.LinkedHashSet<>();
        for (java.util.Iterator<String> it = files.fieldNames(); it.hasNext(); ) {
          com.fasterxml.jackson.databind.JsonNode e = files.get(it.next());
          if (e.has("schema") && "quiver".equals(e.path("fmt").asText("quiver"))) {
            idxs.add(e.get("schema").asInt());
          }
        }
        // Distinct interned indexes are only HETEROGENEOUS when the parsed
        // schemas actually differ (field names, arrow types, children):
        // the two engines serialize IDENTICAL schemas with different IPC
        // minutiae (empty-vs-absent custom_metadata), and files that
        // differ only in a column's nullability (an append of a nullable
        // frame to a table first written from spark.range) read as one
        // table whose column is nullable (inferTableSchema). The per-file
        // openChunk name+type checks still reject any real conflict
        // loudly at read time.
        if (idxs.size() > 1) {
          java.util.Iterator<Integer> it = idxs.iterator();
          int first = it.next();
          while (it.hasNext()) {
            if (!sameInternedSchema(m, first, it.next())) {
              throw new UnsupportedOperationException(
                  "quiverjvm: files carry heterogeneous schemas (merge-schemas "
                      + "table): read with merge_schemas=\"true\"");
            }
          }
        }
      }
    }
  }

  /** Are two interned manifest schemas the SAME table schema once parsed
   * (name, arrow type, children — metadata and the top-level columns'
   * nullability ignored)? */
  static boolean sameInternedSchema(
      com.fasterxml.jackson.databind.JsonNode m, int ia, int ib) {
    try {
      com.fasterxml.jackson.databind.JsonNode schemas = m.get("schemas");
      if (schemas == null || ia < 0 || ib < 0
          || ia >= schemas.size() || ib >= schemas.size()) {
        return false;
      }
      Schema a = parseB64Schema(schemas.get(ia).asText());
      Schema b = parseB64Schema(schemas.get(ib).asText());
      java.util.List<Field> fa = a.getFields(), fb = b.getFields();
      if (fa.size() != fb.size()) return false;
      for (int i = 0; i < fa.size(); i++) {
        if (!sameArrowField(fa.get(i), fb.get(i), false)) return false;
      }
      return true;
    } catch (Exception e) {
      return false; // undecodable → keep the refusal
    }
  }

  static boolean sameArrowField(Field a, Field b, boolean nullability) {
    if (!a.getName().equals(b.getName())) return false;
    if (nullability && a.isNullable() != b.isNullable()) return false;
    if (!a.getType().equals(b.getType())) return false;
    java.util.List<Field> ca = a.getChildren(), cb = b.getChildren();
    if (ca.size() != cb.size()) return false;
    for (int i = 0; i < ca.size(); i++) {
      if (!sameArrowField(ca.get(i), cb.get(i), true)) return false;
    }
    return true;
  }

  static Schema parseB64Schema(String b64) throws IOException {
    byte[] ipc = java.util.Base64.getDecoder().decode(b64);
    return MessageSerializer.deserializeSchema(
        new ReadChannel(Channels.newChannel(new ByteArrayInputStream(ipc))));
  }

  /** Declared (ALTER-DDL) table schema from the manifest, or null. */
  static Schema declaredSchema(com.fasterxml.jackson.databind.JsonNode m) {
    try {
      if (m == null || !m.has("table_schema")) return null;
      return parseB64Schema(m.get("table_schema").asText());
    } catch (Exception e) {
      throw new UnsupportedOperationException(
          "quiverjvm: undecodable declared table schema (a corrupt "
              + "manifest): roll back to a retained generation "
              + "(maintenance.rollback_generation)", e);
    }
  }

  /** Per-file column rename map (declared → physical) from a manifest
   * entry, or null for identity. */
  static java.util.HashMap<String, String> entryCmap(com.fasterxml.jackson.databind.JsonNode e) {
    if (e == null || !e.has("cmap") || e.get("cmap").isNull()) return null;
    java.util.HashMap<String, String> out = new java.util.HashMap<>();
    com.fasterxml.jackson.databind.JsonNode cm = e.get("cmap");
    for (java.util.Iterator<String> it = cm.fieldNames(); it.hasNext(); ) {
      String k = it.next();
      out.put(k, cm.get(k).asText());
    }
    return out.isEmpty() ? null : out;
  }

  /** The table's full Spark schema for a path: declared (ALTER) schema
   * when present, else the manifest's interned file schema, else the
   * first footer — plus appended Hive partition columns. A data column
   * is nullable when any file's schema (interned or footer) says so. */
  public static StructType inferTableSchema(String path) throws IOException {
    return inferTableSchema(path, null, false);
  }

  /** Option-aware variant (round 13): `version` pins a retained
   * generation (time travel — the schema may differ per generation);
   * `mergeSchemas` unions per-file schemas by name instead of refusing
   * heterogeneous directories. */
  public static StructType inferTableSchema(
      String path, String version, boolean mergeSchemas) throws IOException {
    String root = resolveRoot(path, version);
    com.fasterxml.jackson.databind.JsonNode man = readManifestRaw(root);
    guardManifestNode(man, mergeSchemas);
    Schema arrow = declaredSchema(man);
    List<File> files = new ArrayList<>();
    listFiles(new File(root), files);
    if (arrow == null && mergeSchemas) {
      if (files.isEmpty()) {
        throw new IllegalArgumentException("quiverjvm: no .quiver files under " + root);
      }
      arrow = unionSchema(man, root, files);
    }
    // files that differ only in nullability are one table: its column is
    // nullable when any file's says so (a NULL-bearing append to a table
    // first written from spark.range must not read as non-nullable)
    java.util.Set<String> nullable = new java.util.HashSet<>();
    for (Schema s : decodeManifestSchemas(man)) {
      if (s != null) addNullable(s.getFields(), nullable);
    }
    // without a declared or merged schema every file must carry exactly
    // the table's columns
    boolean exact = arrow == null;
    if (arrow == null) arrow = manifestSchema(man);
    if (arrow != null) {
      if (exact) guardFileSchemas(man, root, files, toSparkSchema(arrow), nullable);
    } else {
      if (files.isEmpty()) {
        throw new IllegalArgumentException("quiverjvm: no .quiver files under " + root);
      }
      arrow = readFooter(files.get(0)).arrowSchema;
      // no interned schema vouches for any file: the others are checked
      // against the first one's footer
      guardFileSchemas(null, root, files.subList(1, files.size()),
          toSparkSchema(arrow), nullable);
    }
    StructType st = new StructType();
    for (Field f : arrow.getFields()) {
      st = st.add(f.getName(), sparkType(f),
          f.isNullable() || nullable.contains(f.getName()));
    }
    PartInfo parts = discoverPartitions(root, files);
    for (int i = 0; i < parts.cols.length; i++) {
      boolean dup = false;
      for (StructField f : st.fields()) {
        if (f.name().equals(parts.cols[i])) { dup = true; break; }
      }
      if (!dup) st = st.add(parts.cols[i], partSparkType(parts.kinds[i]), true);
    }
    return st;
  }

  static void addNullable(List<Field> fields, java.util.Set<String> nullable) {
    for (Field f : fields) {
      if (f.isNullable()) nullable.add(f.getName());
    }
  }

  /** Plan-time half of the file-against-table schema check of a table
   * without a declared (ALTER) schema, whose reader expects every file to
   * carry exactly the table's columns. Each file the manifest does not
   * vouch for (no entry, or a stale size: an out-of-band writer's) has its
   * footer compared with the table schema, and its nullable columns join
   * {@code nullable}; {@code man} is null when no interned schema vouches
   * for any file and the table schema is the first file's. A mismatching
   * file refuses the table at plan time rather than failing a scan task:
   * reading files with different columns is what merge_schemas is for.
   * Costs one footer read per unvouched file, none for a manifest-served
   * table. */
  static void guardFileSchemas(com.fasterxml.jackson.databind.JsonNode man,
      String root, List<File> files, StructType table,
      java.util.Set<String> nullable) throws IOException {
    com.fasterxml.jackson.databind.JsonNode entries = man == null ? null : man.get("files");
    java.nio.file.Path rootP = new File(root).toPath();
    for (File f : files) {
      String rel = rootP.relativize(f.toPath()).toString().replace(File.separatorChar, '/');
      com.fasterxml.jackson.databind.JsonNode e = entries == null ? null : entries.get(rel);
      if (e != null && e.path("size").asLong(-1) == f.length()) continue;
      PLAN_FOOTER_READS.incrementAndGet();
      List<Field> got = readFooter(f).arrowSchema.getFields();
      String why = fileSchemaMismatch(got, table);
      if (why != null) {
        // merge_schemas unions column sets by name; it cannot reconcile
        // a column stored under two types
        boolean sameNames = got.size() == table.fields().length;
        for (int i = 0; sameNames && i < got.size(); i++) {
          sameNames = got.get(i).getName().equals(table.fields()[i].name());
        }
        throw new UnsupportedOperationException(
            "quiverjvm: " + why + " in unvouched file " + rel
                + " (heterogeneous table): " + (sameNames
                    ? "rewrite the file with the table's types"
                    : "read with merge_schemas=\"true\""));
      }
      addNullable(got, nullable);
    }
  }

  /** How a file's columns differ from the table's data columns (the same
   * names and Spark types, in order), or null when they match: the one
   * file-against-table schema comparison, made at plan time by
   * guardFileSchemas and at task time by openChunk. Nullability is not
   * compared: the reader decodes each file's pages by the file's own
   * nullability. */
  static String fileSchemaMismatch(List<Field> file, StructType table) {
    StructField[] want = table.fields();
    if (file.size() != want.length) {
      return "file schema width " + file.size() + " != table width " + want.length;
    }
    for (int i = 0; i < want.length; i++) {
      String name = file.get(i).getName();
      if (!name.equals(want[i].name())) {
        return "file column " + i + " is '" + name + "' but table expects '"
            + want[i].name() + "'";
      }
      DataType t = sparkTypeOrNull(file.get(i));
      if (t == null || !t.equals(want[i].dataType())) {
        return "column '" + name + "' is "
            + (t == null ? file.get(i).getType() : t)
            + " but the table declares " + want[i].dataType();
      }
    }
    return null;
  }

  /** sparkType, or null for a leaf shape the reader does not serve. */
  static DataType sparkTypeOrNull(Field f) {
    try {
      return sparkType(f);
    } catch (UnsupportedOperationException e) {
      return null;
    }
  }

  /** Manifest's interned schema table decoded (index-aligned; null slots
   * for undecodable entries). */
  static List<Schema> decodeManifestSchemas(com.fasterxml.jackson.databind.JsonNode m) {
    List<Schema> out = new ArrayList<>();
    if (m != null && m.has("schemas")) {
      for (com.fasterxml.jackson.databind.JsonNode sn : m.get("schemas")) {
        Schema s = null;
        try {
          s = parseB64Schema(sn.asText());
        } catch (Exception ignore) {
          s = null; // undecodable entry -> caller falls back to footers
        }
        out.add(s);
      }
    }
    return out;
  }

  /** One file's own Arrow schema, manifest-served (valid entry with an
   * interned schema) or null → caller reads the footer. */
  static Schema entrySchema(com.fasterxml.jackson.databind.JsonNode man,
      List<Schema> manSchemas, java.nio.file.Path rootP, File f) {
    if (man == null) return null;
    com.fasterxml.jackson.databind.JsonNode files = man.get("files");
    if (files == null) return null;
    String rel = rootP.relativize(f.toPath()).toString().replace(File.separatorChar, '/');
    com.fasterxml.jackson.databind.JsonNode e = files.get(rel);
    if (e == null || !e.has("schema") || e.path("size").asLong(-1) != f.length()) return null;
    int idx = e.get("schema").asInt();
    return idx < manSchemas.size() ? manSchemas.get(idx) : null;
  }

  /** Union-by-name schema over every file's own schema (merge-schemas
   * mode; Python-DS parity, quiver_datasource.py:570-593: first file's
   * fields in order, then unseen fields in file order, everything
   * nullable). A same-name SPARK-type conflict refuses at plan time.
   * (Arrow types that map to ONE Spark type — utf8 vs large_utf8 — union
   * safely: this reader resolves decode width per file from its own
   * footer.) */
  static Schema unionSchema(com.fasterxml.jackson.databind.JsonNode man,
      String root, List<File> files) throws IOException {
    List<Schema> manSchemas = decodeManifestSchemas(man);
    java.nio.file.Path rootP = new File(root).toPath();
    List<Field> fields = new ArrayList<>();
    java.util.Map<String, Field> seen = new java.util.HashMap<>();
    for (File f : files) {
      Schema s = entrySchema(man, manSchemas, rootP, f);
      if (s == null) {
        PLAN_FOOTER_READS.incrementAndGet();
        s = readFooter(f).arrowSchema;
      }
      for (Field fld : s.getFields()) {
        Field prev = seen.get(fld.getName());
        if (prev == null) {
          Field nf = new Field(fld.getName(),
              new org.apache.arrow.vector.types.pojo.FieldType(
                  true, fld.getType(), fld.getDictionary(), fld.getMetadata()),
              fld.getChildren());
          seen.put(fld.getName(), nf);
          fields.add(nf);
        } else if (!sparkType(prev).equals(sparkType(fld))) {
          throw new UnsupportedOperationException(
              "quiverjvm: merge_schemas type conflict for '" + fld.getName()
                  + "': " + prev.getType() + " vs " + fld.getType() + " in "
                  + f + " — rewrite one side with a cast to a common type");
        }
      }
    }
    return new Schema(fields);
  }

  static void guardManifest(String root) throws IOException {
    guardManifestNode(readManifestRaw(root));
  }

  /** Schema served from the manifest's deduplicated b64 Arrow-IPC schema
   * table (ZERO footer reads), or null → caller falls back to a footer. */
  static Schema manifestSchema(com.fasterxml.jackson.databind.JsonNode m) {
    try {
      if (m == null || !m.has("schemas") || m.get("schemas").size() == 0) return null;
      return parseB64Schema(m.get("schemas").get(0).asText());
    } catch (Exception e) {
      return null;
    }
  }

  /** Per-page projected byte sizes for one file, decoded from the
   * manifest entry's compact metas ([[offset,[len,n,len,n,...]],...]);
   * null when the entry cannot serve the plan (missing/stale/foreign). */
  /** Per-page byte totals over the projected LEAF metas (nested columns
   * carry one meta per primitive leaf; callers expand field indexes via
   * QuiverNested.leafRanges before calling). */
  static long[] manifestPageBytes(
      com.fasterxml.jackson.databind.JsonNode m, String rel, long diskSize, int[] projLeaves) {
    if (m == null) return null;
    com.fasterxml.jackson.databind.JsonNode files = m.get("files");
    if (files == null) return null;
    com.fasterxml.jackson.databind.JsonNode e = files.get(rel);
    if (e == null || !"quiver".equals(e.path("fmt").asText(""))) return null;
    // staleness guard: a file rewritten after the commit has a different
    // size — fall back to footer planning rather than plan stale ranges
    if (e.path("size").asLong(-1) != diskSize) return null;
    com.fasterxml.jackson.databind.JsonNode metas = e.get("metas");
    if (metas == null || metas.size() == 0) return null;
    int nPages = metas.get(0).get(1).size() / 2;
    long[] pb = new long[nPages];
    boolean any = false;
    for (int idx : (projLeaves.length > 0 ? projLeaves : new int[] {0})) {
      if (idx < 0) continue; // column absent in this file → null-filled, 0 bytes
      if (idx >= metas.size()) return null;
      any = true;
      com.fasterxml.jackson.databind.JsonNode flat = metas.get(idx).get(1);
      for (int p = 0; p < nPages && p * 2 < flat.size(); p++) {
        pb[p] += flat.get(p * 2).asLong();
      }
    }
    if (!any) {
      // projection reads no file bytes (count(*), partition-only, or
      // all-absent columns): nominal per-page cost keeps chunking sane
      java.util.Arrays.fill(pb, 8);
    }
    return pb;
  }

  /** Per-page ROW counts from the manifest entry's meta of one FLAT
   * leaf (num_values = rows there), or null → caller falls back to the
   * footer. Used by the advisory LIMIT planning cap. */
  static long[] manifestPageRows(
      com.fasterxml.jackson.databind.JsonNode m, String rel, long diskSize, int flatLeaf) {
    if (m == null) return null;
    com.fasterxml.jackson.databind.JsonNode files = m.get("files");
    if (files == null) return null;
    com.fasterxml.jackson.databind.JsonNode e = files.get(rel);
    if (e == null || !"quiver".equals(e.path("fmt").asText(""))) return null;
    if (e.path("size").asLong(-1) != diskSize) return null;
    com.fasterxml.jackson.databind.JsonNode metas = e.get("metas");
    if (metas == null || flatLeaf >= metas.size()) return null;
    com.fasterxml.jackson.databind.JsonNode flat = metas.get(flatLeaf).get(1);
    long[] pr = new long[flat.size() / 2];
    for (int p = 0; p < pr.length; p++) pr[p] = flat.get(p * 2 + 1).asLong();
    return pr;
  }

  // ---- footer ------------------------------------------------------------

  static final class PageMeta implements Serializable {
    private static final long serialVersionUID = 1L;
    final long length;
    final long numValues;

    PageMeta(long length, long numValues) {
      this.length = length;
      this.numValues = numValues;
    }
  }

  static final class ColMeta implements Serializable {
    private static final long serialVersionUID = 1L;
    final long offset;
    final PageMeta[] pages;

    ColMeta(long offset, PageMeta[] pages) {
      this.offset = offset;
      this.pages = pages;
    }
  }

  static final class Footer {
    final Schema arrowSchema;
    final ColMeta[] cols;

    Footer(Schema arrowSchema, ColMeta[] cols) {
      this.arrowSchema = arrowSchema;
      this.cols = cols;
    }
  }

  static Footer readFooter(File f) throws IOException {
    try (RandomAccessFile raf = new RandomAccessFile(f, "r")) {
      long size = raf.length();
      if (size < 24) throw new IOException("not a quiver file (too small): " + f);
      // header magic (ARROW2 + 2 pad, src/lib.rs:34) — the Python reader
      // rejects a bad header even when the footer parses (a PAR1-headed
      // file is NOT a quiver file); the JVM reader must agree (round-15
      // robustness parity)
      byte[] head = new byte[8];
      raf.seek(0);
      raf.readFully(head);
      if (head[0] != 'A' || head[1] != 'R' || head[2] != 'R'
          || head[3] != 'O' || head[4] != 'W' || head[5] != '2'
          || head[6] != 0 || head[7] != 0) {
        throw new IOException("not a quiver file (bad magic): " + f);
      }
      byte[] tail = new byte[16];
      raf.seek(size - 16);
      raf.readFully(tail);
      ByteBuffer bb = ByteBuffer.wrap(tail).order(ByteOrder.LITTLE_ENDIAN);
      int schemaSize = bb.getInt(0);
      int metaSize = bb.getInt(4);
      // EOS trailer: FFFFFFFF 00000000
      if (bb.getInt(8) != -1 || bb.getInt(12) != 0) {
        throw new IOException("corrupt quiver footer (bad EOS): " + f);
      }
      // hostile size fields: negative ints (u32 > 2^31), sizes past the
      // file, or a sum that overflows the int allocation below must all
      // fail BEFORE any allocation sized from them
      if (schemaSize < 0 || metaSize < 0
          || (long) schemaSize + (long) metaSize > size - 24
          || (long) schemaSize + (long) metaSize > Integer.MAX_VALUE - 16) {
        throw new IOException("corrupt quiver footer (sizes exceed file): " + f);
      }
      long start = size - 16L - metaSize - schemaSize;
      if (start < 8) throw new IOException("corrupt quiver footer (sizes exceed file): " + f);
      byte[] block = new byte[schemaSize + metaSize];
      raf.seek(start);
      raf.readFully(block);

      // schema: raw flatbuffer Message → frame for arrow-java
      int pad = (8 - (schemaSize % 8)) % 8;
      ByteBuffer framed = ByteBuffer.allocate(8 + schemaSize + pad).order(ByteOrder.LITTLE_ENDIAN);
      framed.putInt(0xFFFFFFFF);
      framed.putInt(schemaSize + pad);
      framed.put(block, 0, schemaSize);
      framed.position(0);
      Schema arrowSchema = MessageSerializer.deserializeSchema(
          new ReadChannel(Channels.newChannel(new ByteArrayInputStream(framed.array()))));

      ByteBuffer mb = ByteBuffer.wrap(block, schemaSize, metaSize).order(ByteOrder.LITTLE_ENDIAN);
      long nCols = mb.getLong();
      ColMeta[] cols = new ColMeta[(int) nCols];
      for (int c = 0; c < nCols; c++) {
        long offset = mb.getLong();
        long nPages = mb.getLong();
        PageMeta[] pages = new PageMeta[(int) nPages];
        for (int p = 0; p < nPages; p++) {
          pages[p] = new PageMeta(mb.getLong(), mb.getLong());
        }
        cols[c] = new ColMeta(offset, pages);
      }
      return new Footer(arrowSchema, cols);
    }
  }

  /** Exact top-level row count of one file from its footer: a flat
   * leaf's page metas carry it directly (num_values = rows); an
   * all-nested schema reads each page's uncompressed `rows u32` prefix
   * instead (4 bytes per page, no decode — the same fallback
   * QuiverColumnarReader.decodePage uses; write_nested_validity layout,
   * reference src/write/serialize.rs:217-232). ONE shared walk so the
   * count paths can never disagree on the no-flat-leaf case. */
  static long rowsFromFooter(File f, Footer ft) throws IOException {
    if (ft.cols.length == 0) return 0;
    int[][] lr = QuiverNested.leafRanges(ft.arrowSchema);
    java.util.List<Field> fsf = ft.arrowSchema.getFields();
    int flatLeaf = -1;
    for (int i = 0; i < fsf.size(); i++) {
      if (!QuiverNested.isNested(fsf.get(i).getType())) {
        flatLeaf = lr[i][0];
        break;
      }
    }
    long rows = 0;
    if (flatLeaf >= 0 && flatLeaf < ft.cols.length) {
      for (PageMeta pm : ft.cols[flatLeaf].pages) rows += pm.numValues;
      return rows;
    }
    try (RandomAccessFile raf = new RandomAccessFile(f, "r")) {
      long off = ft.cols[0].offset;
      byte[] b4 = new byte[4];
      for (PageMeta pm : ft.cols[0].pages) {
        raf.seek(off);
        raf.readFully(b4);
        rows += (b4[0] & 0xFFL) | ((b4[1] & 0xFFL) << 8)
            | ((b4[2] & 0xFFL) << 16) | ((b4[3] & 0xFFL) << 24);
        off += pm.length;
      }
    }
    return rows;
  }

  /** Per-leaf per-page crc32s from the on-disk .stats.json sidecar, or
   * null when absent / unparseable / shape-inconsistent with the footer
   * (crcs_if_consistent parity with format/stats.py: verification is
   * best-effort extra safety, never a reason a healthy file fails). */
  static long[][] loadCrcSidecar(File dataFile, Footer ft) {
    File sc = new File(dataFile.getPath() + ".stats.json");
    if (!sc.isFile()) return null;
    try {
      com.fasterxml.jackson.databind.JsonNode root =
          new com.fasterxml.jackson.databind.ObjectMapper().readTree(sc);
      com.fasterxml.jackson.databind.JsonNode crcs = root.path("page_crc32");
      if (!crcs.isArray() || crcs.size() != ft.cols.length) return null;
      long[][] out = new long[ft.cols.length][];
      for (int ci = 0; ci < ft.cols.length; ci++) {
        com.fasterxml.jackson.databind.JsonNode row = crcs.get(ci);
        if (!row.isArray() || row.size() != ft.cols[ci].pages.length) {
          return null;
        }
        out[ci] = new long[row.size()];
        for (int p = 0; p < row.size(); p++) {
          if (!row.get(p).isNumber()) return null;
          out[ci][p] = row.get(p).asLong();
        }
      }
      return out;
    } catch (Exception e) {
      return null;
    }
  }

  // ---- arrow → spark type mapping (flat surface) -------------------------

  static DataType sparkType(Field f) {
    ArrowType t = f.getType();
    if (t instanceof ArrowType.Int) {
      ArrowType.Int it = (ArrowType.Int) t;
      if (!it.getIsSigned()) {
        // unsigned widening (round-12 lift, Python-DS parity — SURVEY
        // §1.3): Spark has no unsigned types and a same-width signed map
        // would overflow the top half of the range, so uint8→short,
        // uint16→int, uint32→long, uint64→decimal(20,0). The pages store
        // the raw physical width; decode zero-extends.
        switch (it.getBitWidth()) {
          case 8: return DataTypes.ShortType;
          case 16: return DataTypes.IntegerType;
          case 32: return DataTypes.LongType;
          case 64: return DataTypes.createDecimalType(20, 0);
          default: throw new UnsupportedOperationException("uint width " + it.getBitWidth());
        }
      }
      switch (it.getBitWidth()) {
        case 8: return DataTypes.ByteType;
        case 16: return DataTypes.ShortType;
        case 32: return DataTypes.IntegerType;
        case 64: return DataTypes.LongType;
        default: throw new UnsupportedOperationException("int width " + it.getBitWidth());
      }
    }
    if (t instanceof ArrowType.FloatingPoint) {
      switch (((ArrowType.FloatingPoint) t).getPrecision()) {
        case SINGLE: return DataTypes.FloatType;
        case DOUBLE: return DataTypes.DoubleType;
        default: throw new UnsupportedOperationException("half float");
      }
    }
    // Large* variants: same page layout with 8-byte offsets — the decode
    // paths take the offset width as a parameter (lifted round 12)
    if (t instanceof ArrowType.Utf8 || t instanceof ArrowType.LargeUtf8) {
      return DataTypes.StringType;
    }
    if (t instanceof ArrowType.Binary || t instanceof ArrowType.LargeBinary) {
      return DataTypes.BinaryType;
    }
    if (t instanceof ArrowType.Bool) return DataTypes.BooleanType;
    if (t instanceof ArrowType.Date) {
      if (((ArrowType.Date) t).getUnit() != org.apache.arrow.vector.types.DateUnit.DAY) {
        // date64 stores 8-byte millis — the 4-byte day decode would
        // misread; refuse it
        throw new UnsupportedOperationException("date unit "
            + ((ArrowType.Date) t).getUnit());
      }
      return DataTypes.DateType;
    }
    if (t instanceof ArrowType.Timestamp) {
      // all units served since round 13: pages store raw ticks at the
      // file's unit; decode converts to Spark's us (toMicros — pyarrow
      // safe-cast parity: ns values that would truncate RAISE)
      ArrowType.Timestamp ts = (ArrowType.Timestamp) t;
      return ts.getTimezone() == null ? DataTypes.TimestampNTZType : DataTypes.TimestampType;
    }
    if (t instanceof ArrowType.Decimal) {
      ArrowType.Decimal d = (ArrowType.Decimal) t;
      if (d.getBitWidth() != 128) {
        throw new UnsupportedOperationException("decimal" + d.getBitWidth());
      }
      return DataTypes.createDecimalType(d.getPrecision(), d.getScale());
    }
    // nested types (round 12): served through the Dremel rep/def assembler
    // (QuiverNested) — list/struct/map columns rebuild directly into
    // WritableColumnVector children, staying on the columnar fast path
    if (t instanceof ArrowType.List || t instanceof ArrowType.LargeList
        || t instanceof ArrowType.FixedSizeList) {
      Field elem = f.getChildren().get(0);
      return DataTypes.createArrayType(sparkType(elem), elem.isNullable());
    }
    if (t instanceof ArrowType.Struct) {
      StructType st = new StructType();
      for (Field c : f.getChildren()) {
        st = st.add(c.getName(), sparkType(c), c.isNullable());
      }
      return st;
    }
    if (t instanceof ArrowType.Map) {
      Field entries = f.getChildren().get(0);
      Field k = entries.getChildren().get(0);
      Field v = entries.getChildren().get(1);
      return DataTypes.createMapType(sparkType(k), sparkType(v), v.isNullable());
    }
    throw new UnsupportedOperationException(
        "quiverjvm: column '" + f.getName() + "' type " + t
            + " (extended types): rewrite it cast to a type the reader "
            + "decodes");
  }

  /** Raw timestamp ticks at the file's unit → Spark's microseconds.
   * pyarrow safe-cast parity (the Python DS casts each batch with
   * pa.Array.cast, quiver_datasource._spark_type): s/ms multiply
   * (overflow raises), ns DIVIDE — a value that would truncate RAISES
   * rather than silently losing precision. */
  static long toMicros(long raw, org.apache.arrow.vector.types.TimeUnit unit) {
    switch (unit) {
      case SECOND: return Math.multiplyExact(raw, 1_000_000L);
      case MILLISECOND: return Math.multiplyExact(raw, 1_000L);
      case MICROSECOND: return raw;
      default: // NANOSECOND
        if (raw % 1_000L != 0) {
          throw new ArithmeticException(
              "quiverjvm: casting timestamp[ns] value " + raw
                  + " to us would lose data (pyarrow safe-cast parity)");
        }
        return raw / 1_000L;
    }
  }

  static StructType toSparkSchema(Schema arrow) {
    StructType st = new StructType();
    for (Field f : arrow.getFields()) {
      st = st.add(f.getName(), sparkType(f), f.isNullable());
    }
    return st;
  }

  // ---- planning ----------------------------------------------------------

  /** One contiguous page range of one file inside a partition, plus the
   * file's column-resolution context: Hive partition constants (typed at
   * plan time) and the ALTER rename map (declared → physical name). */
  /** Name of the file-identity METADATA column (round 14): selecting it
   * yields each row's data file as a root-relative path — the JVM twin
   * of the Python DS's {@code file_column} option, served through
   * Spark's SupportsMetadataColumns so the unified router no longer
   * pins file-identity scans to the Python DS. Suppressed whenever a
   * real data column carries the same name (Spark's shadowing rule). */
  static final String META_FILE_COL = "_quiver_file";

  static final class Chunk implements Serializable {
    private static final long serialVersionUID = 3L;
    final String file;
    /** root-relative path of {@link #file} (the META_FILE_COL value) */
    final String rel;
    final int pageStart;
    final int pageEnd;
    /** typed Hive partition constant by column name (entry with null
     * value = null partition); null/empty for flat layouts */
    final java.util.HashMap<String, Object> partVals;
    /** declared → physical column rename map, or null for identity */
    final java.util.HashMap<String, String> cmap;
    /** non-null when the table has NO declared (ALTER) schema: the exact
     * data columns (names and Spark types, in order) every file must
     * carry — a mismatching file (foreign drop-in, merge-schemas dir)
     * rejects loudly instead of being silently name-resolved against the
     * wrong table schema */
    final StructType expectSchema;
    /** declared column initial-defaults (raw manifest JSON scalars, typed
     * at read time); null/empty when none were ever declared */
    final java.util.HashMap<String, Object> defaults;
    /** verify sidecar page crc32s during reads (default). False only via
     * the explicit `verify_checksums=false` opt-out — trusted storage /
     * benchmarking the integrity tax; decode-layer structural checks
     * (header magic, length bounds) always stay on. */
    final boolean verifyCrc;

    Chunk(String file, String rel, int pageStart, int pageEnd,
        java.util.HashMap<String, Object> partVals,
        java.util.HashMap<String, String> cmap, StructType expectSchema,
        java.util.HashMap<String, Object> defaults) {
      this(file, rel, pageStart, pageEnd, partVals, cmap, expectSchema,
          defaults, true);
    }

    Chunk(String file, String rel, int pageStart, int pageEnd,
        java.util.HashMap<String, Object> partVals,
        java.util.HashMap<String, String> cmap, StructType expectSchema,
        java.util.HashMap<String, Object> defaults, boolean verifyCrc) {
      this.file = file;
      this.rel = rel;
      this.pageStart = pageStart;
      this.pageEnd = pageEnd;
      this.partVals = partVals;
      this.cmap = cmap;
      this.expectSchema = expectSchema;
      this.defaults = defaults;
      this.verifyCrc = verifyCrc;
    }
  }

  static final class QuiverInputPartition implements InputPartition {
    private static final long serialVersionUID = 1L;
    final Chunk[] chunks;

    QuiverInputPartition(Chunk[] chunks) {
      this.chunks = chunks;
    }
  }

  // ---- scan builder / scan ----------------------------------------------

  /** Semantic reader options (round 13 — VERDICT r12 Next #1/#3): all
   * driver-side-resolvable, so the JVM engine serves them instead of
   * pinning the scan to the Python DS's many-small-files floor:
   * `version` = retained-generation pin (time travel), `files` = JSON
   * array of root-relative file names (row-level-op rewrite subsets),
   * `changes_since` = manifest commit cursor (CDC-lite incremental
   * scans), `merge_schemas` = union-by-name heterogeneous directories. */
  static final class ScanOpts implements Serializable {
    private static final long serialVersionUID = 1L;
    final String version;
    final String filesJson;
    final long changesSince; // -1 = off
    final boolean mergeSchemas;
    /** page-crc verification opt-out (round 16): `verify_checksums=false`
     * skips loading/checking the sidecar crc32s so the integrity tax is a
     * measurable A/B number (bench row). Default ON. */
    final boolean verifyChecksums;
    /** full option map, kept for the streaming path (max_files_per_trigger,
     * start_commit — QuiverJvmStream parses its own). */
    final java.util.HashMap<String, String> raw;

    ScanOpts(java.util.Map<String, String> opts) {
      this.version = opts.get("version");
      this.filesJson = opts.get("files");
      String cs = opts.get("changes_since");
      this.changesSince = cs == null ? -1L : Long.parseLong(cs);
      this.mergeSchemas = "true".equalsIgnoreCase(opts.getOrDefault("merge_schemas", "false"));
      this.verifyChecksums = !"false".equalsIgnoreCase(
          opts.getOrDefault("verify_checksums", "true"));
      this.raw = new java.util.HashMap<>(opts);
    }
  }

  static final class QuiverScanBuilder
      implements ScanBuilder, SupportsPushDownRequiredColumns,
          org.apache.spark.sql.connector.read.SupportsPushDownFilters,
          org.apache.spark.sql.connector.read.SupportsPushDownLimit,
          org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
    private final String path;
    private final StructType fullSchema;
    private final ScanOpts opts;
    private StructType required;
    private int limit = -1;
    private int countCols = 0; // >0: COUNT(*) pushdown accepted
    private org.apache.spark.sql.sources.Filter[] pushedForDisplay =
        new org.apache.spark.sql.sources.Filter[0];
    private List<QuiverPagePrune.Pred> preds = new ArrayList<>();

    QuiverScanBuilder(String path, StructType fullSchema) {
      this(path, fullSchema, new ScanOpts(java.util.Collections.emptyMap()));
    }

    QuiverScanBuilder(String path, StructType fullSchema, ScanOpts opts) {
      this.path = path;
      this.fullSchema = fullSchema;
      this.opts = opts;
      this.required = fullSchema;
    }

    @Override
    public void pruneColumns(StructType requiredSchema) {
      // Catalyst hands the pruned schema — the projection the Python DS
      // needs an explicit `columns` option for
      this.required = requiredSchema;
    }

    /** Accepted (fully consumed) PARTITION-column filters — exact by
     * construction: a Hive partition column is a per-file path constant,
     * so whole-file filtering IS the predicate. Each entry:
     * {op, col, kind, value(-s)}. */
    private List<Object[]> partPreds = new ArrayList<>();
    private java.util.Map<String, String> partKindsCache = null;

    /** Partition columns (excluding directory keys that collide with
     * data columns — file data wins there, so the path constant may
     * disagree with stored values) → inferred path kind. Empty map when
     * anything is uncertain: uncertainty means accept nothing. */
    private java.util.Map<String, String> partitionKinds() {
      if (partKindsCache != null) return partKindsCache;
      java.util.Map<String, String> out = new java.util.HashMap<>();
      try {
        String root = resolveRoot(localPath(path), opts.version);
        // cheap short-circuit for the common UNPARTITIONED table:
        // discoverPartitions accepts `k=v` segments at ANY depth
        // (root/batch/day=1/...), so the probe walks DIRECTORIES
        // recursively — still stat-free per file and exits on the first
        // key-shaped dir — instead of only the root's children, which
        // silently lost filter acceptance for nested key layouts
        // (ADVICE r15 #3)
        if (!anyKeyDirDeep(new File(root))) {
          partKindsCache = out;
          return out;
        }
        List<File> files = new ArrayList<>();
        listFiles(new File(root), files);
        if (!files.isEmpty()) {
          PartInfo hive = discoverPartitions(root, files);
          if (hive.cols.length > 0) {
            com.fasterxml.jackson.databind.JsonNode man = readManifestRaw(root);
            // collision set = the TABLE's data columns. merge-schemas
            // tables resolve theirs via the union-by-name schema — the
            // first interned schema may lack a later-file-only column
            // whose name shadows a key dir, and accepting a filter on it
            // would consume a predicate the data-wins rule says must be
            // re-evaluated row-level (ADVICE r15 #2)
            Schema s;
            if (opts.mergeSchemas) {
              s = unionSchema(man, root, files);
            } else {
              s = man != null ? declaredSchema(man) : null;
              if (s == null && man != null) s = manifestSchema(man);
              if (s == null) {
                PLAN_FOOTER_READS.incrementAndGet();
                s = readFooter(files.get(0)).arrowSchema;
              }
            }
            java.util.Set<String> dataCols = new java.util.HashSet<>();
            for (Field fd : s.getFields()) dataCols.add(fd.getName());
            for (int i = 0; i < hive.cols.length; i++) {
              if (!dataCols.contains(hive.cols[i])) {
                out.put(hive.cols[i], hive.kinds[i]);
              }
            }
          }
        }
      } catch (Exception e) {
        out.clear();
      }
      partKindsCache = out;
      return out;
    }

    @Override
    public org.apache.spark.sql.sources.Filter[] pushFilters(
        org.apache.spark.sql.sources.Filter[] filters) {
      // Two tiers (round 15): filters on PARTITION columns whose class/
      // value domain the exact evaluator covers are ACCEPTED — consumed,
      // not residual — because a path constant is evaluated exactly per
      // file (this is what lets `count(*) WHERE day = X` ride the
      // metadata aggregate pushdown). Everything else stays the ADVISORY
      // zone-map posture: returned as residual so Spark re-evaluates
      // row-level — a pruned page is pure I/O saved, never a semantics
      // bet.
      List<org.apache.spark.sql.sources.Filter> display = new ArrayList<>();
      List<org.apache.spark.sql.sources.Filter> residual = new ArrayList<>();
      preds = new ArrayList<>();
      partPreds = new ArrayList<>();
      java.util.Map<String, String> pk = partitionKinds();
      for (org.apache.spark.sql.sources.Filter f : filters) {
        Object[] pp = translatePartitionFilter(f, pk);
        if (pp != null) {
          partPreds.add(pp);
          display.add(f);
          continue;
        }
        residual.add(f);
        QuiverPagePrune.Pred p = QuiverPagePrune.translate(f, fullSchema);
        if (p != null) {
          preds.add(p);
          display.add(f);
        }
      }
      pushedForDisplay = display.toArray(new org.apache.spark.sql.sources.Filter[0]);
      return residual.toArray(new org.apache.spark.sql.sources.Filter[0]);
    }

    @Override
    public org.apache.spark.sql.sources.Filter[] pushedFilters() {
      return pushedForDisplay;
    }

    @Override
    public boolean pushLimit(int n) {
      // ADVISORY planning cap (round 12): plan only enough leading pages
      // to cover n rows — a LIMIT 1000 over a 100k-file table plans one
      // small split instead of every file. Spark only offers the limit
      // when no residual filter sits between scan and limit, and we
      // return false so Spark still applies its own exact limit above
      // the scan — under-planning is impossible (>= n rows are planned
      // whenever a flat leaf exposes row counts; all-nested schemas skip
      // the cap), over-reading is bounded by one chunk.
      this.limit = n;
      return false;
    }

    /** Pushed MIN/MAX/SUM(/grouped) answer rows precomputed at pushdown
     * time (null when the pushdown is bare-count-only or refused). */
    private Object[][] aggVals = null;
    private StructType aggSchema = null;

    /** Per-group metadata-aggregate accumulator (one partition-column
     * value tuple; the single "" group when no grouping was pushed). */
    private static final class GroupAcc {
      long rows;
      final java.util.Map<String, Long> mins = new java.util.HashMap<>();
      final java.util.Map<String, Long> maxs = new java.util.HashMap<>();
      final java.util.Map<String, Long> sums = new java.util.HashMap<>();
      final java.util.Map<String, Long> cnts = new java.util.HashMap<>();
      final String[] raws;

      GroupAcc(String[] raws) {
        this.raws = raws;
      }
    }

    /** Spark types whose sidecar min/max JSON numbers ARE the semantic
     * values: signed ints, the unsigned-widened ints (raw uint page
     * values equal the widened values), and date32 days. Floats (NaN →
     * null stats), strings (truncated), decimals, and timestamps
     * (per-file physical units) are excluded. */
    private static boolean minMaxType(DataType t) {
      return t.equals(DataTypes.ByteType) || t.equals(DataTypes.ShortType)
          || t.equals(DataTypes.IntegerType) || t.equals(DataTypes.LongType)
          || t.equals(DataTypes.DateType);
    }

    /** Spark types whose sidecar entry is GUARANTEED present when the
     * file contains the column (format/stats.py supports_stats), so an
     * absent entry unambiguously means "file predates the column" —
     * the COUNT(col) acceptance domain. DecimalType is excluded: it maps
     * from BOTH uint64 (stats recorded) and decimal128 (no stats), so
     * absence would be ambiguous. */
    private static boolean countColType(DataType t) {
      return minMaxType(t) || t.equals(DataTypes.BooleanType)
          || t.equals(DataTypes.StringType) || t.equals(DataTypes.FloatType)
          || t.equals(DataTypes.DoubleType) || t.equals(DataTypes.TimestampType)
          || t.equals(DataTypes.TimestampNTZType);
    }

    @Override
    public boolean pushAggregation(
        org.apache.spark.sql.connector.expressions.aggregate.Aggregation agg) {
      // COUNT(*) from metadata (round 15, VERDICT r14 Next #8): the
      // format's per-page num_values (reference PageMeta,
      // /root/reference/src/lib.rs:75-80) and the manifest's per-file
      // row counts make a bare count free — ZERO page reads. Partial
      // pushdown only (Spark sums the per-scan partials), accepted when:
      // no grouping, every aggregate is COUNT(*), no pushed predicates
      // (ours are advisory page prunes — rows must still be counted
      // exactly), no LIMIT cap, not merge-schemas (a heterogeneous file
      // may lack the flat leaf whose meta carries true ROW counts), and
      // the table schema has at least one flat top-level field.
      if (!preds.isEmpty() || limit >= 0 || opts.mergeSchemas) return false;
      if (agg.aggregateExpressions().length == 0) return false;
      boolean allCount = agg.groupByExpressions().length == 0;
      if (allCount) {
        for (org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc fn
            : agg.aggregateExpressions()) {
          if (!(fn instanceof
              org.apache.spark.sql.connector.expressions.aggregate.CountStar)) {
            allCount = false;
            break;
          }
        }
      }
      if (allCount) {
        // no flat-field requirement: rowsFromFooter covers all-nested
        // files via the 4-byte per-page rows prefix (round-15 review)
        countCols = agg.aggregateExpressions().length;
        return true;
      }
      // MIN/MAX (optionally mixed with COUNT(*)) from the manifest's
      // inline zone maps — accepted ONLY when the manifest can vouch
      // for every live byte, so the answer needs no file I/O at all
      return tryPushMinMax(agg);
    }

    /** Precompute MIN/MAX/COUNT answers from the manifest's inline
     * per-page zone maps. Every condition is checked here — a refusal
     * is a clean `false` (Spark keeps the normal scan), never a
     * mid-query error: manifest present; every live file vouched
     * (entry exists, size matches) with `rows` and an INLINE sidecar
     * (no O(files) disk reads at plan time); requested columns typed
     * in the exact-JSON domain, present in the manifest's declared
     * schema (a Hive partition column is not), not default-filled,
     * and date columns physically date32 in every file schema. */
    private boolean tryPushMinMax(
        org.apache.spark.sql.connector.expressions.aggregate.Aggregation agg) {
      if (opts.filesJson != null || opts.changesSince >= 0) return false;
      // grouping is accepted ONLY over Hive partition columns — their
      // values are path constants, so a grouped COUNT/MIN/MAX/SUM is
      // still pure metadata (the "rows per day over 100 TB" query)
      java.util.List<String> groupCols = new ArrayList<>();
      for (org.apache.spark.sql.connector.expressions.Expression ge
          : agg.groupByExpressions()) {
        if (!(ge instanceof
            org.apache.spark.sql.connector.expressions.NamedReference)) {
          return false;
        }
        String[] gn = ((org.apache.spark.sql.connector.expressions.NamedReference)
            ge).fieldNames();
        if (gn.length != 1) return false;
        groupCols.add(gn[0]);
      }
      java.util.List<Object[]> wants = new ArrayList<>(); // {kind, col} / {count}
      for (org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc fn
          : agg.aggregateExpressions()) {
        if (fn instanceof
            org.apache.spark.sql.connector.expressions.aggregate.CountStar) {
          wants.add(new Object[] {"count", null});
          continue;
        }
        org.apache.spark.sql.connector.expressions.Expression colExpr;
        String kind;
        if (fn instanceof org.apache.spark.sql.connector.expressions.aggregate.Min) {
          colExpr = ((org.apache.spark.sql.connector.expressions.aggregate.Min) fn).column();
          kind = "min";
        } else if (fn instanceof org.apache.spark.sql.connector.expressions.aggregate.Max) {
          colExpr = ((org.apache.spark.sql.connector.expressions.aggregate.Max) fn).column();
          kind = "max";
        } else if (fn instanceof org.apache.spark.sql.connector.expressions.aggregate.Sum) {
          org.apache.spark.sql.connector.expressions.aggregate.Sum sm =
              (org.apache.spark.sql.connector.expressions.aggregate.Sum) fn;
          if (sm.isDistinct()) return false;
          colExpr = sm.column();
          kind = "sum";
        } else if (fn instanceof
            org.apache.spark.sql.connector.expressions.aggregate.Count) {
          // COUNT(col) = Σ(page_rows − nulls) from the sidecar (round 16,
          // VERDICT r15 Next #3) — this is also what lets AVG ride: Spark
          // rewrites a non-complete-pushdown AVG into partial SUM + COUNT
          org.apache.spark.sql.connector.expressions.aggregate.Count ct =
              (org.apache.spark.sql.connector.expressions.aggregate.Count) fn;
          if (ct.isDistinct()) return false;
          colExpr = ct.column();
          kind = "countcol";
        } else {
          return false;
        }
        if (!(colExpr instanceof
            org.apache.spark.sql.connector.expressions.NamedReference)) {
          return false;
        }
        String[] names = ((org.apache.spark.sql.connector.expressions.NamedReference)
            colExpr).fieldNames();
        if (names.length != 1) return false;
        String col = names[0];
        StructField sf;
        try {
          sf = fullSchema.fields()[fullSchema.fieldIndex(col)];
        } catch (Exception e) {
          return false;
        }
        if ("countcol".equals(kind)) {
          // COUNT needs only per-page null counts, which the sidecar
          // records for every stats-supported type — wider than the
          // min/max value domain but still a whitelist: a type OUTSIDE
          // supports_stats (binary/nested) legitimately has NO sidecar
          // entry while holding non-null values, so its absence is
          // ambiguous and must refuse
          if (!countColType(sf.dataType())) return false;
        } else {
          if (!minMaxType(sf.dataType())) return false;
          // SUM is pure-int only (SUM over a date is not SQL; the sidecar
          // stores no date sums)
          if ("sum".equals(kind) && sf.dataType().equals(DataTypes.DateType)) {
            return false;
          }
        }
        wants.add(new Object[] {kind, col});
      }
      try {
        String root = resolveRoot(localPath(path), opts.version);
        com.fasterxml.jackson.databind.JsonNode man = readManifestRaw(root);
        // the same table-level guard every normal read path runs
        // (heterogeneous schemas, undecodable declared schema, foreign
        // defaults): a table the scan would refuse loudly must not get a
        // stats-folded answer instead (ADVICE r15 #1). The guard's UOE
        // lands in this method's catch → clean refusal → the normal scan
        // raises the same loudly.
        guardManifestNode(man, opts.mergeSchemas);
        com.fasterxml.jackson.databind.JsonNode manFiles =
            man == null ? null : man.get("files");
        if (man != null && manFiles == null) return false;
        // a default-filled column's absent-file rows carry the default,
        // which zone maps don't record — refuse those columns
        com.fasterxml.jackson.databind.JsonNode defs =
            man == null ? null : man.get("column_defaults");
        List<File> files = new ArrayList<>();
        listFiles(new File(root), files);
        // ONE partition discovery over the UNFILTERED listing — kinds
        // re-inferred over a filtered subset can drift (string → long)
        // and corrupt group values; this PartInfo serves the filter,
        // the grouping, and nothing re-discovers
        PartInfo hiveAll = files.isEmpty() ? null
            : discoverPartitions(root, files);
        // accepted partition filters narrow the aggregate's file set
        // exactly — this is what makes `count(*) WHERE day = X` a pure
        // metadata answer
        files = applyPartPreds(hiveAll, files, partPreds);
        Schema declared = null;
        if (man != null) {
          declared = declaredSchema(man);
          if (declared == null) declared = manifestSchema(man);
        } else if (!files.isEmpty()) {
          // manifest-less dir: plan already pays per-file footer reads —
          // the first footer names the data columns (a Hive partition
          // column is not among them)
          PLAN_FOOTER_READS.incrementAndGet();
          declared = readFooter(files.get(0)).arrowSchema;
        }
        if (declared == null && !files.isEmpty()) return false;
        java.util.Set<String> declaredCols = new java.util.HashSet<>();
        java.util.Map<String, ArrowType> declaredTypes = new java.util.HashMap<>();
        if (declared != null) {
          for (Field f : declared.getFields()) {
            declaredCols.add(f.getName());
            declaredTypes.put(f.getName(), f.getType());
          }
        }
        boolean anyColWant = false;
        for (Object[] w : wants) {
          if (w[1] == null) continue;
          anyColWant = true;
          String col = (String) w[1];
          if (!files.isEmpty() && !declaredCols.contains(col)) {
            return false; // partition col (path constant — no zone maps)
          }
          if (defs != null && defs.has(col)) return false;
          ArrowType at = declaredTypes.get(col);
          if (!"countcol".equals(w[0]) && at instanceof ArrowType.Date
              && ((ArrowType.Date) at).getUnit()
                  != org.apache.arrow.vector.types.DateUnit.DAY) {
            return false; // date64 stats are millis, Spark DateType is days
          }
        }
        // per-file schema vouching (ADVICE r15 #1): sidecar stats fold
        // into one answer only when every file's OWN schema types the
        // wanted columns in the declared physical domain — a foreign
        // same-named column (date64 millis where the table says int64
        // days, a renamed drop-in) must refuse, exactly like the normal
        // scan's per-file openChunk type check. Manifest tables vouch
        // through the interned schema index; manifest-less dirs read
        // each footer (the branch below already pays that cost for row
        // counts). Type maps are cached per interned index.
        List<Schema> vouchSchemas =
            anyColWant && man != null ? decodeManifestSchemas(man) : null;
        java.util.Map<Integer, java.util.Map<String, ArrowType>> vouchTypes =
            new java.util.HashMap<>();
        // group-by validation: every grouped column must be a REAL Hive
        // partition column (in the paths, not in the data schema — the
        // collision rule gives file data precedence) whose inferred path
        // type matches the Spark schema exactly
        PartInfo hive = null;
        int[] gidx = new int[groupCols.size()];
        if (!groupCols.isEmpty()) {
          if (files.isEmpty()) return false;
          hive = hiveAll; // the pre-filter discovery: stable kinds
          for (int g = 0; g < groupCols.size(); g++) {
            String gc = groupCols.get(g);
            if (declaredCols.contains(gc)) return false;
            int idx = -1;
            for (int i = 0; i < hive.cols.length; i++) {
              if (hive.cols[i].equals(gc)) {
                idx = i;
                break;
              }
            }
            if (idx < 0) return false;
            DataType expect;
            try {
              expect = fullSchema.fields()[fullSchema.fieldIndex(gc)]
                  .dataType();
            } catch (Exception badCol) {
              return false;
            }
            if (!partSparkType(hive.kinds[idx]).equals(expect)) return false;
            gidx[g] = idx;
          }
        }
        java.nio.file.Path rp = new File(root).toPath();
        // keys are the raw-value LISTS themselves (List.equals is
        // null-safe and positional) — a string-concatenated key would
        // collide when an UNQUOTED partition value contains the
        // separator/sentinel characters (%00/%01 in the path decode to
        // exactly those chars)
        java.util.LinkedHashMap<java.util.List<String>, GroupAcc> groups =
            new java.util.LinkedHashMap<>();
        if (groupCols.isEmpty()) {
          groups.put(java.util.Collections.emptyList(),
              new GroupAcc(new String[0])); // one row even when empty
        }
        com.fasterxml.jackson.databind.ObjectMapper om =
            new com.fasterxml.jackson.databind.ObjectMapper();
        for (File f : files) {
          String rel = rp.relativize(f.toPath()).toString()
              .replace(File.separatorChar, '/');
          com.fasterxml.jackson.databind.JsonNode e =
              manFiles == null ? null : manFiles.get(rel);
          String[] graws = new String[groupCols.size()];
          if (hive != null) {
            String[] rv = hive.rawByFile.get(f.getPath());
            for (int g = 0; g < gidx.length; g++) {
              graws[g] = rv == null ? null : rv[gidx[g]];
            }
          }
          final String[] rawsF = graws;
          GroupAcc acc = groups.computeIfAbsent(
              java.util.Arrays.asList(graws.clone()),
              k -> new GroupAcc(rawsF));
          java.util.Map<String, Long> mins = acc.mins;
          java.util.Map<String, Long> maxs = acc.maxs;
          java.util.Map<String, Long> sumVals = acc.sums;
          com.fasterxml.jackson.databind.JsonNode sc;
          java.util.HashMap<String, String> cmap = null;
          long fileRows;
          java.util.Map<String, ArrowType> fileTypes = null;
          if (man != null) {
            // manifest present: it must vouch for every live byte, and
            // sidecars must be INLINE (no O(files) disk reads on the
            // manifest-served planning path)
            if (e == null || e.path("size").asLong(-1) != f.length()
                || !e.has("rows")) {
              return false;
            }
            fileRows = e.get("rows").asLong();
            acc.rows += fileRows;
            sc = e.get("sidecar");
            cmap = entryCmap(e);
            if (anyColWant) {
              // vouch this file's own schema via its interned index —
              // an entry without one cannot prove the wanted columns'
              // physical domain, so refuse
              if (!e.has("schema")) return false;
              int sidx = e.get("schema").asInt();
              fileTypes = vouchTypes.get(sidx);
              if (fileTypes == null) {
                Schema fs = sidx >= 0 && sidx < vouchSchemas.size()
                    ? vouchSchemas.get(sidx) : null;
                if (fs == null) return false; // undecodable/foreign index
                fileTypes = new java.util.HashMap<>();
                for (Field fld : fs.getFields()) {
                  fileTypes.put(fld.getName(), fld.getType());
                }
                vouchTypes.put(sidx, fileTypes);
              }
            }
          } else {
            // manifest-less: per-file footer + disk sidecar (the same
            // O(files) cost this dir's split planning already pays)
            PLAN_FOOTER_READS.incrementAndGet();
            Footer ftr = readFooter(f);
            fileRows = rowsFromFooter(f, ftr);
            acc.rows += fileRows;
            if (anyColWant) {
              fileTypes = new java.util.HashMap<>();
              for (Field fld : ftr.arrowSchema.getFields()) {
                fileTypes.put(fld.getName(), fld.getType());
              }
            }
            File side = new File(f.getPath() + ".stats.json");
            if (!side.isFile()) sc = null;
            else sc = om.readTree(side);
          }
          if (sc == null || sc.isNull()
              || sc.path("version").asInt(-1) != 1
              || !sc.has("columns")) {
            // count-only files are fine when nothing else is requested,
            // but any min/max want needs the zone maps
            for (Object[] w : wants) {
              if (w[1] != null) return false;
            }
            continue;
          }
          // shape gate: page_rows is the file's page count — min/max
          // arrays shorter or longer than it are stale/corrupt stats and
          // must REFUSE (a silently-skipped missing page would change
          // the answer; loadCrcSidecar merely disables verification on
          // mismatch, but here the stats ARE the answer)
          com.fasterxml.jackson.databind.JsonNode prn = sc.get("page_rows");
          if (prn == null || !prn.isArray()) {
            for (Object[] w : wants) {
              if (w[1] != null) return false;
            }
            continue;
          }
          if (anyColWant) {
            // page_rows must reconcile with the vouched file row count —
            // a sidecar left behind by an older write is stale and its
            // per-page stats may describe pages that no longer exist
            long prSum = 0;
            for (int p = 0; p < prn.size(); p++) {
              long prv = prn.get(p).isIntegralNumber()
                  ? prn.get(p).asLong(-1) : -1;
              if (prv < 0) return false;
              prSum += prv;
            }
            if (prSum != fileRows) return false;
          }
          for (Object[] w : wants) {
            if (w[1] == null) continue;
            String col = (String) w[1];
            String phys = cmap != null ? cmap.getOrDefault(col, col) : col;
            com.fasterxml.jackson.databind.JsonNode cn =
                sc.get("columns").get(phys);
            // the vouch: the file either lacks the column entirely (it
            // predates an ALTER add — all-null contribution, and the
            // sidecar must agree by lacking the entry too) or carries it
            // in EXACTLY the declared physical domain
            ArrowType ftype = fileTypes == null ? null : fileTypes.get(phys);
            if (ftype == null) {
              if (cn != null) return false; // sidecar names a column the schema lacks
            } else if (!ftype.equals(declaredTypes.get(col))) {
              return false; // foreign physical domain (e.g. date64 vs int64)
            }
            if (cn == null) continue; // file predates the column: all-null
            if ("countcol".equals(w[0])) {
              // COUNT(col) = Σ(page_rows − nulls); needs only the null
              // counts, which every stats-supported column records even
              // for all-null/NaN pages (format/stats.py page_stats)
              com.fasterxml.jackson.databind.JsonNode nlc = cn.get("nulls");
              if (nlc == null || !nlc.isArray() || nlc.size() != prn.size()) {
                return false;
              }
              long nonNull = 0;
              for (int p = 0; p < nlc.size(); p++) {
                long rowsP = prn.get(p).asLong(-1);
                long nullsP = nlc.get(p).isIntegralNumber()
                    ? nlc.get(p).asLong(-1) : -1;
                if (nullsP < 0 || nullsP > rowsP) return false;
                nonNull += rowsP - nullsP;
              }
              acc.cnts.merge(col, nonNull, Long::sum);
              continue;
            }
            if ("sum".equals(w[0])) {
              com.fasterxml.jackson.databind.JsonNode sm = cn.get("sum");
              com.fasterxml.jackson.databind.JsonNode nl = cn.get("nulls");
              if (sm == null || !sm.isArray() || sm.size() != prn.size()
                  || nl == null || !nl.isArray() || nl.size() != prn.size()) {
                return false; // pre-sum sidecar or stale shape: refuse
              }
              for (int p = 0; p < sm.size(); p++) {
                com.fasterxml.jackson.databind.JsonNode sv = sm.get(p);
                if (sv == null || sv.isNull()) {
                  // null sum is legitimate ONLY for an all-null page;
                  // anything else (write-time overflow, unsupported
                  // domain) must refuse, not skip values
                  if (nl.get(p).asLong(-1) == prn.get(p).asLong(-2)) {
                    continue;
                  }
                  return false;
                }
                if (!sv.isIntegralNumber()) return false;
                try {
                  sumVals.merge(col, sv.asLong(), Math::addExact);
                } catch (ArithmeticException overflowEx) {
                  return false; // cross-page overflow: refuse
                }
              }
              continue;
            }
            com.fasterxml.jackson.databind.JsonNode mn = cn.get("min");
            com.fasterxml.jackson.databind.JsonNode mx = cn.get("max");
            com.fasterxml.jackson.databind.JsonNode nlm = cn.get("nulls");
            if (mn == null || mx == null || !mn.isArray() || !mx.isArray()
                || mn.size() != prn.size() || mx.size() != prn.size()
                || nlm == null || !nlm.isArray()
                || nlm.size() != prn.size()) {
              return false;
            }
            for (int p = 0; p < mn.size(); p++) {
              com.fasterxml.jackson.databind.JsonNode lo = mn.get(p);
              com.fasterxml.jackson.databind.JsonNode hi = mx.get(p);
              if (lo == null || lo.isNull() || hi == null || hi.isNull()) {
                // a null extremum is legitimate ONLY for an all-null
                // page — anything else is a corrupt/stale zone map and
                // must REFUSE, not skip the page's contribution (the
                // SUM branch's posture; round-15 second review)
                if (nlm.get(p).asLong(-1) == prn.get(p).asLong(-2)) {
                  continue;
                }
                return false;
              }
              if (!lo.isIntegralNumber() || !hi.isIntegralNumber()) {
                return false; // unexpected domain: refuse, don't guess
              }
              mins.merge(col, lo.asLong(), Math::min);
              maxs.merge(col, hi.asLong(), Math::max);
            }
          }
        }
        // output: group columns FIRST (V2ScanRelationPushDown maps the
        // pushed-aggregate relation output positionally as groupBy
        // columns then aggregate columns), then one column per aggregate
        StructType schema = new StructType();
        for (int g = 0; g < groupCols.size(); g++) {
          schema = schema.add(
              groupCols.get(g),
              fullSchema.fields()[fullSchema.fieldIndex(groupCols.get(g))]
                  .dataType(),
              true);
        }
        for (int i = 0; i < wants.size(); i++) {
          Object[] w = wants.get(i);
          if (w[1] == null) {
            schema = schema.add("count(*)" + (i == 0 ? "" : String.valueOf(i)),
                DataTypes.LongType, false);
          } else if ("countcol".equals(w[0])) {
            // COUNT is never null (zero when every row is null)
            schema = schema.add("count(" + w[1] + ")" + i,
                DataTypes.LongType, false);
          } else if ("sum".equals(w[0])) {
            // Spark's SUM over any integral input is LongType; a column
            // with zero non-null values sums to NULL
            schema = schema.add("sum(" + w[1] + ")" + i,
                DataTypes.LongType, true);
          } else {
            DataType t = fullSchema.fields()[fullSchema.fieldIndex(
                (String) w[1])].dataType();
            schema = schema.add(w[0] + "(" + w[1] + ")" + i, t, true);
          }
        }
        Object[][] rows = new Object[groups.size()][];
        int r = 0;
        for (GroupAcc acc : groups.values()) {
          Object[] row = new Object[groupCols.size() + wants.size()];
          for (int g = 0; g < groupCols.size(); g++) {
            row[g] = hive == null ? null
                : partTyped(acc.raws[g], hive.kinds[gidx[g]]);
          }
          for (int i = 0; i < wants.size(); i++) {
            Object[] w = wants.get(i);
            Object v;
            if (w[1] == null) {
              v = acc.rows;
            } else if ("countcol".equals(w[0])) {
              Long cv = acc.cnts.get((String) w[1]);
              v = cv == null ? 0L : cv; // all files predate the column
            } else if ("sum".equals(w[0])) {
              v = acc.sums.get(w[1]);
            } else if ("min".equals(w[0])) {
              v = acc.mins.get(w[1]);
            } else {
              v = acc.maxs.get(w[1]);
            }
            row[groupCols.size() + i] = v;
          }
          rows[r++] = row;
        }
        this.aggVals = rows;
        this.aggSchema = schema;
        return true;
      } catch (Exception e) {
        return false;
      }
    }

    @Override
    public boolean supportCompletePushDown(
        org.apache.spark.sql.connector.expressions.aggregate.Aggregation agg) {
      return false; // partial: one metadata-count row per scan, Spark sums
    }

    @Override
    public Scan build() {
      QuiverScan s = new QuiverScan(path, fullSchema, required, preds, limit,
          opts, countCols);
      s.aggVals = aggVals;
      s.aggSchema = aggSchema;
      s.partPreds = partPreds;
      return s;
    }
  }

  static final class QuiverScan implements Scan, Batch {
    private final String path;
    private final StructType fullSchema;
    private final StructType required;
    private final List<QuiverPagePrune.Pred> preds;
    private final int limit; // -1 = unbounded
    private final ScanOpts opts;
    private final int countCols; // >0: metadata COUNT(*) mode

    QuiverScan(String path, StructType fullSchema, StructType required,
        List<QuiverPagePrune.Pred> preds, int limit, ScanOpts opts) {
      this(path, fullSchema, required, preds, limit, opts, 0);
    }

    QuiverScan(String path, StructType fullSchema, StructType required,
        List<QuiverPagePrune.Pred> preds, int limit, ScanOpts opts,
        int countCols) {
      this.path = path;
      this.fullSchema = fullSchema;
      this.required = required;
      this.preds = preds;
      this.limit = limit;
      this.opts = opts;
      this.countCols = countCols;
    }

    /** Precomputed MIN/MAX(/COUNT) pushdown answers (set by the builder
     * when tryPushMinMax accepted) — the scan emits exactly this row. */
    Object[][] aggVals;
    StructType aggSchema;
    /** Accepted partition filters — EXACT whole-file filters Spark no
     * longer re-evaluates (consumed in pushFilters). */
    List<Object[]> partPreds = java.util.Collections.emptyList();

    @Override
    public StructType readSchema() {
      if (aggSchema != null) return aggSchema;
      if (countCols > 0) {
        StructType s = new StructType();
        for (int i = 0; i < countCols; i++) {
          s = s.add("count(*)" + (i == 0 ? "" : String.valueOf(i)),
              DataTypes.LongType, false);
        }
        return s;
      }
      return required;
    }

    @Override
    public String description() {
      return "quiverjvm scan of " + path
          + (preds.isEmpty() ? "" : " pagePrune: " + preds)
          + (partPreds == null || partPreds.isEmpty()
              ? "" : " partitionFilters: " + partPreds.size())
          + (limit < 0 ? "" : " planLimit: " + limit)
          + (opts.version == null ? "" : " version: " + opts.version)
          + (opts.changesSince < 0 ? "" : " changesSince: " + opts.changesSince)
          + (opts.filesJson == null ? "" : " filesSubset")
          + (opts.mergeSchemas ? " mergeSchemas" : "");
    }

    @Override
    public Batch toBatch() {
      return this;
    }

    @Override
    public org.apache.spark.sql.connector.read.streaming.MicroBatchStream
        toMicroBatchStream(String checkpointLocation) {
      // streaming source (round 13): micro-batches are deltas of the
      // sorted file listing, planned JVM-side — no per-batch Python
      // planner-process floor (QuiverJvmStream; Python-twin protocol).
      // Accepted partition filters are ENFORCED per batch (round 16,
      // VERDICT r15 Next #4): Spark 4.1.2 never pushes filters into
      // streaming scans today, but the moment upstream starts, the
      // stream filters its per-batch file listing with the same exact
      // applyPartPreds evaluator — offsets stay monotone (they track ALL
      // files; non-matching ones are consumed with zero rows planned).
      return new QuiverJvmStream(path, fullSchema, required, opts.raw,
          partPreds);
    }

    @Override
    public InputPartition[] planInputPartitions() {
      if (aggVals != null) {
        // MIN/MAX answers were precomputed from the manifest zone maps
        // at pushdown time — one partition, zero file I/O at execution
        return new InputPartition[] {
            new AggChunk(aggVals, aggSchema.json())};
      }
      try {
        String root = resolveRoot(path, opts.version);
        com.fasterxml.jackson.databind.JsonNode man = readManifestRaw(root);
        guardManifestNode(man, opts.mergeSchemas);
        List<File> files = new ArrayList<>();
        listFiles(new File(root), files);
        // the FULL listing, before any subset option narrows `files` —
        // merge-schemas collision classification below must union over
        // the whole table, or a later-file-only column outside the
        // subset would be misread as a partition key (ADVICE r15 #2)
        List<File> allListed = new ArrayList<>(files);

        // `files` subset (row-level-op rewrites scan ONLY touched files):
        // JSON array of root-relative names, Python-DS parity
        if (opts.filesJson != null) {
          java.util.Set<String> want = new java.util.HashSet<>();
          for (com.fasterxml.jackson.databind.JsonNode n
              : new com.fasterxml.jackson.databind.ObjectMapper().readTree(opts.filesJson)) {
            want.add(n.asText());
          }
          java.nio.file.Path rp = new File(root).toPath();
          List<File> kept = new ArrayList<>();
          for (File f : files) {
            String rel = rp.relativize(f.toPath()).toString()
                .replace(File.separatorChar, '/');
            if (want.contains(rel)) kept.add(f);
          }
          files = kept;
        }

        // `changes_since` cursor (CDC-lite): keep files whose manifest
        // commit stamp is AFTER the cursor; files the manifest cannot
        // vouch for (absent entry, stale size, manifest-less dir) are
        // conservatively KEPT — at-least-once delivery beats silently
        // dropping a pre-manifest writer's rows (_files_changed_since
        // parity, quiver_datasource.py:280-295)
        if (opts.changesSince >= 0) {
          com.fasterxml.jackson.databind.JsonNode manFilesN =
              man == null ? null : man.get("files");
          if (manFilesN != null) {
            java.nio.file.Path rp = new File(root).toPath();
            List<File> kept = new ArrayList<>();
            for (File f : files) {
              String rel = rp.relativize(f.toPath()).toString()
                  .replace(File.separatorChar, '/');
              com.fasterxml.jackson.databind.JsonNode e = manFilesN.get(rel);
              if (e == null || e.path("size").asLong(-1) != f.length()
                  || e.path("commit").asLong(0) > opts.changesSince) {
                kept.add(f);
              }
            }
            files = kept;
          }
        }
        // ONE partition discovery over the UNFILTERED listing, reused by
        // the accepted-filter drop AND the split planner below — kind
        // re-inference over a filtered subset can flip a string
        // partition to long and corrupt the emitted constants
        PartInfo hive = files.isEmpty()
            ? new PartInfo(new String[0], new String[0],
                new java.util.HashMap<>())
            : discoverPartitions(root, files);
        // accepted partition filters: EXACT whole-file drop, applied
        // before anything else consumes the list (count mode, splits)
        files = applyPartPreds(hive, files, partPreds);

        // metadata-served COUNT(*) (round 15): the final file list is
        // settled (version resolved, files= subset, changes_since cursor,
        // accepted partition filters) and count mode excludes zone-map
        // predicates, so the exact total is the sum of per-file row
        // counts — manifest entry `rows` when it vouches for the file,
        // else the flat leaf's per-page num_values from one footer read.
        // No page is ever opened.
        if (countCols > 0) {
          long total = 0;
          com.fasterxml.jackson.databind.JsonNode manFilesC =
              man == null ? null : man.get("files");
          java.nio.file.Path rpc = new File(root).toPath();
          for (File f : files) {
            String rel = rpc.relativize(f.toPath()).toString()
                .replace(File.separatorChar, '/');
            long rows = -1;
            com.fasterxml.jackson.databind.JsonNode e =
                manFilesC == null ? null : manFilesC.get(rel);
            if (e != null && e.path("size").asLong(-1) == f.length()
                && e.has("rows")) {
              rows = e.get("rows").asLong(-1);
            }
            if (rows < 0) {
              // no vouched manifest row count: one footer read; an
              // all-nested file additionally reads its 4-byte per-page
              // rows prefixes (the normal reader's fallback) instead of
              // failing a count the plain scan would serve
              PLAN_FOOTER_READS.incrementAndGet();
              rows = rowsFromFooter(f, readFooter(f));
            }
            total += rows;
          }
          return new InputPartition[] {new CountChunk(total, countCols)};
        }
        if (files.isEmpty()) return new InputPartition[0];

        // Hive partition columns: plan-time constants per file — a pushed
        // predicate on one prunes WHOLE FILES before any byte is read.
        // A directory key that COLLIDES with a real file column is NOT a
        // partition column (inferTableSchema's dup rule, Python-DS
        // parity: the file's data wins) — exclude it here so the reader
        // never shadows stored values with a path constant. `hive` is
        // the single pre-filter discovery from above.
        java.util.Set<String> fileColNames = new java.util.HashSet<>();
        if (hive.cols.length > 0) {
          // merge-schemas: the collision rule judges against the
          // union-by-name schema over the FULL listing — a data column
          // present only in later file schemas still wins over the path
          // constant (ADVICE r15 #2; partitionKinds applies the same
          // rule so filters on such a column are never accepted)
          Schema dataArrow = opts.mergeSchemas
              ? unionSchema(man, root, allListed)
              : declaredSchema(man);
          if (dataArrow == null) dataArrow = manifestSchema(man);
          if (dataArrow == null && !files.isEmpty()) {
            PLAN_FOOTER_READS.incrementAndGet();
            dataArrow = readFooter(files.get(0)).arrowSchema;
          }
          if (dataArrow != null) {
            for (Field f : dataArrow.getFields()) fileColNames.add(f.getName());
          }
        }
        java.util.Map<String, Integer> partIdx = new java.util.HashMap<>();
        for (int i = 0; i < hive.cols.length; i++) {
          if (!fileColNames.contains(hive.cols[i])) partIdx.put(hive.cols[i], i);
        }

        // declared column initial-defaults (round-12 lift): raw manifest
        // JSON scalars, shipped per chunk, typed against the required
        // schema at read time — files that predate an ALTER add_column
        // WITH DEFAULT fill the default, not null (Iceberg semantics,
        // Python-DS parity: quiver_datasource._read_chunk fill_vals)
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

        // data columns the scan must read from file pages (partition
        // columns are constants; names resolve per file through the
        // cmap; the file-identity METADATA column is a per-chunk
        // constant and reads no pages — unless a real data column
        // shadows the name, in which case the file's data wins)
        List<String> dataCols = new ArrayList<>();
        for (StructField f : required.fields()) {
          if (partIdx.containsKey(f.name())) continue;
          if (isMetaFileCol(f.name())) continue;
          dataCols.add(f.name());
        }
        // without a declared (ALTER) schema every file must carry exactly
        // the table's data columns — name-resolution must not paper over a
        // heterogeneous directory. merge-schemas mode (round 13) REQUESTS
        // per-file name resolution: files carry subsets of the union
        // schema, absent columns null-fill, and openChunk's per-column
        // type check still rejects any same-name type conflict.
        StructType expectSchema = null;
        if (!opts.mergeSchemas && (man == null || !man.has("table_schema"))) {
          expectSchema = new StructType();
          for (StructField f : fullSchema.fields()) {
            if (!partIdx.containsKey(f.name())) expectSchema = expectSchema.add(f);
          }
        }

        // decoded manifest schema name lists (schema idx → field names),
        // for per-file name-based projection without footer reads
        com.fasterxml.jackson.databind.JsonNode manFiles =
            man == null ? null : man.get("files");
        List<List<String>> manSchemaNames = new ArrayList<>();
        List<Schema> manSchemas = new ArrayList<>();
        if (man != null && man.has("schemas")) {
          for (com.fasterxml.jackson.databind.JsonNode sn : man.get("schemas")) {
            List<String> names = null;
            Schema s = null;
            try {
              s = parseB64Schema(sn.asText());
              names = new ArrayList<>();
              for (Field f : s.getFields()) names.add(f.getName());
            } catch (Exception ignore) {
              s = null;
            }
            manSchemaNames.add(names);
            manSchemas.add(s);
          }
        }

        java.nio.file.Path rootP = new File(root).toPath();
        // LIMIT planning cap is live only for pure scan+limit plans —
        // Spark offers pushLimit only when no residual filter sits below
        // the limit, and we additionally require zero translated preds
        long planLimit = (limit >= 0 && preds.isEmpty()) ? limit : -1;
        List<long[]> perFilePageRows = new ArrayList<>();
        List<long[]> perFilePageBytes = new ArrayList<>();
        List<boolean[]> perFileKeep = new ArrayList<>();
        List<String> keptRels = new ArrayList<>();
        List<File> keptFiles = new ArrayList<>();
        List<java.util.HashMap<String, Object>> keptPartVals = new ArrayList<>();
        List<java.util.HashMap<String, String>> keptCmaps = new ArrayList<>();
        long totalBytes = 0;
        for (File f : files) {
          String rel = rootP.relativize(f.toPath()).toString().replace(File.separatorChar, '/');
          com.fasterxml.jackson.databind.JsonNode entry =
              manFiles == null ? null : manFiles.get(rel);
          java.util.HashMap<String, String> cmap = entryCmap(entry);

          // typed partition constants for this file, keyed by column name
          String[] rawVals = hive.rawByFile.get(f.getPath());
          java.util.HashMap<String, Object> partVals = new java.util.HashMap<>();
          for (int i = 0; i < hive.cols.length; i++) {
            if (!partIdx.containsKey(hive.cols[i])) continue; // colliding key: file data wins
            partVals.put(hive.cols[i],
                partTyped(rawVals == null ? null : rawVals[i], hive.kinds[i]));
          }

          // per-file physical projection indexes (−1 = column absent in
          // this file → null-filled at read); manifest-served via the
          // entry's interned schema, footer fallback otherwise
          List<String> fileNames = null;
          Schema fileSchema = null;
          if (entry != null && entry.has("schema")
              && entry.path("size").asLong(-1) == f.length()
              && entry.get("schema").asInt() < manSchemaNames.size()) {
            fileNames = manSchemaNames.get(entry.get("schema").asInt());
            fileSchema = manSchemas.get(entry.get("schema").asInt());
          }
          Footer ft = null;
          if (fileNames == null || fileSchema == null) {
            PLAN_FOOTER_READS.incrementAndGet();
            ft = readFooter(f);
            fileSchema = ft.arrowSchema;
            fileNames = new ArrayList<>();
            for (Field fd : ft.arrowSchema.getFields()) fileNames.add(fd.getName());
          }
          int[] projIdx = new int[dataCols.size()];
          for (int i = 0; i < dataCols.size(); i++) {
            String phys = cmap != null ? cmap.getOrDefault(dataCols.get(i), dataCols.get(i))
                : dataCols.get(i);
            projIdx[i] = fileNames.indexOf(phys);
          }
          // footer/manifest metas are per LEAF (nested columns carry one
          // meta per primitive of their type tree) — expand the projected
          // FIELD indexes into leaf-meta indexes for byte accounting
          int[][] lr = QuiverNested.leafRanges(fileSchema);
          List<Integer> plList = new ArrayList<>();
          for (int idx : projIdx) {
            if (idx < 0 || idx >= lr.length) continue;
            for (int l = 0; l < lr[idx][1]; l++) plList.add(lr[idx][0] + l);
          }
          int[] projLeaves = new int[plList.size()];
          for (int i = 0; i < projLeaves.length; i++) projLeaves[i] = plList.get(i);

          // whole-file pruning on plan-time constants: partition values
          // and columns this file predates (all-null by construction)
          boolean fileKept = true;
          for (QuiverPagePrune.Pred pred : preds) {
            if (partIdx.containsKey(pred.column)) {
              Object v = partVals.get(pred.column);
              if (!QuiverPagePrune.pageMayMatch(pred, v, v, v == null ? 1 : 0, 1)) {
                fileKept = false;
                break;
              }
              continue;
            }
            int di = dataCols.indexOf(pred.column);
            // a column this file predates is all-NULL — unless a declared
            // default fills it, in which case no null-based prune applies
            if (di >= 0 && projIdx[di] < 0
                && (tblDefaults == null || !tblDefaults.containsKey(pred.column))
                && !QuiverPagePrune.pageMayMatch(pred, null, null, 1, 1)) {
              fileKept = false;
              break;
            }
          }
          if (!fileKept) continue;

          // advisory LIMIT cap inputs: per-page ROW counts via the first
          // FLAT field's leaf meta (nested leaf metas count slots); an
          // all-nested file contributes no counts and is never capped
          long[] pr = null;
          if (planLimit >= 0) {
            int flatLeaf = -1;
            java.util.List<Field> fsf = fileSchema.getFields();
            for (int i = 0; i < fsf.size(); i++) {
              if (!QuiverNested.isNested(fsf.get(i).getType())) {
                flatLeaf = lr[i][0];
                break;
              }
            }
            if (flatLeaf >= 0) {
              pr = manifestPageRows(man, rel, f.length(), flatLeaf);
              if (pr == null) {
                if (ft == null) {
                  PLAN_FOOTER_READS.incrementAndGet();
                  ft = readFooter(f);
                }
                if (flatLeaf < ft.cols.length) {
                  PageMeta[] fp2 = ft.cols[flatLeaf].pages;
                  pr = new long[fp2.length];
                  for (int p = 0; p < fp2.length; p++) pr[p] = fp2[p].numValues;
                }
              }
            }
          }
          perFilePageRows.add(pr);

          long[] pb = manifestPageBytes(man, rel, f.length(), projLeaves);
          if (pb == null) {
            if (ft == null) {
              PLAN_FOOTER_READS.incrementAndGet();
              ft = readFooter(f);
            }
            int nPages = ft.cols.length == 0 ? 0 : ft.cols[0].pages.length;
            pb = new long[nPages];
            boolean any = false;
            for (int idx : projLeaves) {
              if (idx >= ft.cols.length) continue;
              any = true;
              PageMeta[] pages = ft.cols[idx].pages;
              for (int p = 0; p < Math.min(nPages, pages.length); p++) {
                pb[p] += pages[p].length;
              }
            }
            if (!any && ft.cols.length > 0) {
              // projection reads no file bytes (count(*), partition-only,
              // or all-absent columns): nominal per-page cost
              java.util.Arrays.fill(pb, 8);
            }
          }
          // zone-map page pruning: sidecar stats ride the manifest entry
          // (zero extra I/O) or the on-disk .stats.json; a page is dropped
          // ONLY when no row can satisfy a pushed predicate. Stats are
          // keyed by PHYSICAL column name — translate preds through the
          // cmap for renamed tables.
          boolean[] keep = null;
          if (!preds.isEmpty()) {
            // timestamp preds compare in Spark's us domain but the stats
            // sidecar stores PHYSICAL ticks at the FILE's unit — for a
            // non-us file (round-13 unit lift) drop the pred from this
            // file's mask rather than prune on mismatched scales; Spark's
            // row-level filter above the scan stays exact either way
            java.util.Set<String> nonUsTs = new java.util.HashSet<>();
            for (Field ff : fileSchema.getFields()) {
              if (ff.getType() instanceof ArrowType.Timestamp
                  && ((ArrowType.Timestamp) ff.getType()).getUnit()
                      != org.apache.arrow.vector.types.TimeUnit.MICROSECOND) {
                nonUsTs.add(ff.getName());
              }
            }
            List<QuiverPagePrune.Pred> filePreds = new ArrayList<>();
            for (QuiverPagePrune.Pred p : preds) {
              String phys = cmap != null
                  ? cmap.getOrDefault(p.column, p.column) : p.column;
              if (nonUsTs.contains(phys)) continue;
              filePreds.add(phys.equals(p.column) ? p
                  : new QuiverPagePrune.Pred(phys, p.op, p.value));
            }
            QuiverPagePrune.FileStats st = QuiverPagePrune.loadStats(entry, f);
            keep = QuiverPagePrune.keepMask(st, filePreds, pb.length);
          }
          keptFiles.add(f);
          keptRels.add(rel);
          keptPartVals.add(partVals);
          keptCmaps.add(cmap);
          perFilePageBytes.add(pb);
          perFileKeep.add(keep);
          for (int p = 0; p < pb.length; p++) {
            if (keep == null || keep[p]) totalBytes += pb[p];
            else PAGES_PRUNED.incrementAndGet();
          }
        }
        files = keptFiles;
        int parallelism = 8;
        try {
          parallelism = org.apache.spark.sql.SparkSession.active()
              .sparkContext().defaultParallelism();
        } catch (Exception ignore) {
        }
        long floor = Math.min(
            Math.max(totalBytes / Math.max(parallelism, 1), 1L << 20), 128L << 20);

        // roll page ranges into partitions under the floor, packing across
        // files (the Python planner's round-9 posture)
        List<InputPartition> parts = new ArrayList<>();
        List<Chunk> open = new ArrayList<>();
        long acc = 0;
        long plannedRows = 0;
        for (int fi = 0; fi < files.size(); fi++) {
          long[] pb = perFilePageBytes.get(fi);
          boolean[] keep = perFileKeep.get(fi);
          String fp = files.get(fi).getPath();
          String rl = keptRels.get(fi);
          java.util.HashMap<String, Object> pv = keptPartVals.get(fi);
          java.util.HashMap<String, String> cm = keptCmaps.get(fi);
          int runStart = -1; // start of the current kept run
          for (int p = 0; p < pb.length; p++) {
            if (keep != null && !keep[p]) {
              if (runStart >= 0) {
                open.add(new Chunk(fp, rl, runStart, p, pv, cm, expectSchema, tblDefaults,
                    opts.verifyChecksums));
                runStart = -1;
              }
              continue;
            }
            if (runStart < 0) runStart = p;
            acc += pb[p];
            if (planLimit >= 0) {
              long[] prf = perFilePageRows.get(fi);
              if (prf != null && p < prf.length) {
                plannedRows += prf[p];
                if (plannedRows >= planLimit) {
                  // enough leading pages planned to cover the limit —
                  // stop here; Spark's own limit trims above the scan
                  open.add(new Chunk(fp, rl, runStart, p + 1, pv, cm, expectSchema, tblDefaults,
                    opts.verifyChecksums));
                  parts.add(new QuiverInputPartition(open.toArray(new Chunk[0])));
                  return parts.toArray(new InputPartition[0]);
                }
              }
            }
            if (acc >= floor) {
              open.add(new Chunk(fp, rl, runStart, p + 1, pv, cm, expectSchema, tblDefaults,
                    opts.verifyChecksums));
              parts.add(new QuiverInputPartition(open.toArray(new Chunk[0])));
              open = new ArrayList<>();
              runStart = -1;
              acc = 0;
            }
          }
          if (runStart >= 0) {
            open.add(new Chunk(fp, rl, runStart, pb.length, pv, cm, expectSchema, tblDefaults,
                    opts.verifyChecksums));
          } else if (pb.length == 0) {
            open.add(new Chunk(fp, rl, 0, 0, pv, cm, expectSchema, tblDefaults,
                    opts.verifyChecksums));
          }
        }
        if (!open.isEmpty()) {
          parts.add(new QuiverInputPartition(open.toArray(new Chunk[0])));
        }
        return parts.toArray(new InputPartition[0]);
      } catch (IOException e) {
        throw new RuntimeException(e);
      }
    }

    /** Is this required-field name the file-identity metadata column —
     * i.e. named META_FILE_COL and NOT shadowed by a real data column
     * of the table (Spark's SupportsMetadataColumns shadowing rule)? */
    private boolean isMetaFileCol(String name) {
      if (!META_FILE_COL.equals(name)) return false;
      for (String n : fullSchema.fieldNames()) {
        if (n.equals(META_FILE_COL)) return false;
      }
      return true;
    }

    @Override
    public PartitionReaderFactory createReaderFactory() {
      int metaIdx = -1;
      StructField[] rf = required.fields();
      for (int i = 0; i < rf.length; i++) {
        if (isMetaFileCol(rf[i].name())) { metaIdx = i; break; }
      }
      return new QuiverReaderFactory(required.json(), metaIdx);
    }
  }

  static int[] projectionIndexes(StructType full, StructType required) {
    int[] out = new int[required.fields().length];
    for (int i = 0; i < required.fields().length; i++) {
      out[i] = full.fieldIndex(required.fields()[i].name());
    }
    return out;
  }

  // ---- reader ------------------------------------------------------------

  static final class QuiverReaderFactory implements PartitionReaderFactory {
    private static final long serialVersionUID = 3L;
    private final String requiredSchemaJson;
    /** index in the required schema of the file-identity metadata
     * column, or -1 when the scan doesn't request it */
    private final int metaFileIdx;

    QuiverReaderFactory(String requiredSchemaJson) {
      this(requiredSchemaJson, -1);
    }

    QuiverReaderFactory(String requiredSchemaJson, int metaFileIdx) {
      this.requiredSchemaJson = requiredSchemaJson;
      this.metaFileIdx = metaFileIdx;
    }

    @Override
    public boolean supportColumnarReads(InputPartition partition) {
      return true;
    }

    @Override
    public PartitionReader<InternalRow> createReader(InputPartition partition) {
      throw new UnsupportedOperationException("columnar only");
    }

    @Override
    public PartitionReader<ColumnarBatch> createColumnarReader(InputPartition partition) {
      if (partition instanceof CountChunk) {
        return new CountReader((CountChunk) partition);
      }
      if (partition instanceof AggChunk) {
        return new AggReader((AggChunk) partition);
      }
      StructType required = (StructType) DataType.fromJson(requiredSchemaJson);
      return new QuiverColumnarReader(
          ((QuiverInputPartition) partition).chunks, required, metaFileIdx);
    }
  }

  /** Metadata-served COUNT(*): the single partition of a pushed bare
   * count — carries the exact row total computed at plan time from
   * manifest row counts / footer num_values; its reader emits ONE row
   * and touches zero pages. */
  static final class CountChunk implements InputPartition {
    private static final long serialVersionUID = 1L;
    final long total;
    final int nCols;

    CountChunk(long total, int nCols) {
      this.total = total;
      this.nCols = nCols;
    }
  }

  /** Partition carrying precomputed pushed-aggregate rows (COUNT/MIN/
   * MAX/SUM answered from the manifest's inline zone maps; one row per
   * partition-column group, or a single row for ungrouped aggregates). */
  static final class AggChunk implements InputPartition {
    private static final long serialVersionUID = 2L;
    final Object[][] rows; // per row: Long/Double/String values or null
    final String schemaJson;

    AggChunk(Object[][] rows, String schemaJson) {
      this.rows = rows;
      this.schemaJson = schemaJson;
    }
  }

  static final class AggReader implements PartitionReader<ColumnarBatch> {
    private final AggChunk c;
    private boolean done = false;
    private ColumnarBatch batch;

    AggReader(AggChunk c) {
      this.c = c;
    }

    @Override
    public boolean next() {
      if (done) return false;
      StructType schema = (StructType) DataType.fromJson(c.schemaJson);
      int n = Math.max(c.rows.length, 1);
      int w = schema.fields().length;
      org.apache.spark.sql.execution.vectorized.OnHeapColumnVector[] cols =
          new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector[w];
      for (int i = 0; i < w; i++) {
        cols[i] = new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector(
            n, schema.fields()[i].dataType());
      }
      for (int r = 0; r < c.rows.length; r++) {
        for (int i = 0; i < w; i++) {
          DataType t = schema.fields()[i].dataType();
          Object v = c.rows[r][i];
          if (v == null) {
            cols[i].putNull(r);
          } else if (t.equals(DataTypes.StringType)) {
            byte[] b = ((String) v).getBytes(
                java.nio.charset.StandardCharsets.UTF_8);
            cols[i].putByteArray(r, b);
          } else if (t.equals(DataTypes.DoubleType)) {
            cols[i].putDouble(r, (Double) v);
          } else {
            long lv = (Long) v;
            if (t.equals(DataTypes.LongType)) cols[i].putLong(r, lv);
            else if (t.equals(DataTypes.IntegerType)
                || t.equals(DataTypes.DateType)) cols[i].putInt(r, (int) lv);
            else if (t.equals(DataTypes.ShortType)) cols[i].putShort(r, (short) lv);
            else if (t.equals(DataTypes.ByteType)) cols[i].putByte(r, (byte) lv);
            else throw new IllegalStateException("agg type " + t);
          }
        }
      }
      batch = new ColumnarBatch(cols, c.rows.length);
      done = true;
      return true;
    }

    @Override
    public ColumnarBatch get() {
      return batch;
    }

    @Override
    public void close() {
      if (batch != null) batch.close();
    }
  }

  static final class CountReader implements PartitionReader<ColumnarBatch> {
    private final CountChunk c;
    private boolean done = false;
    private ColumnarBatch batch;

    CountReader(CountChunk c) {
      this.c = c;
    }

    @Override
    public boolean next() {
      if (done) return false;
      org.apache.spark.sql.execution.vectorized.OnHeapColumnVector[] cols =
          new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector[c.nCols];
      for (int i = 0; i < c.nCols; i++) {
        cols[i] = new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector(
            1, DataTypes.LongType);
        cols[i].putLong(0, c.total);
      }
      batch = new ColumnarBatch(cols, 1);
      done = true;
      return true;
    }

    @Override
    public ColumnarBatch get() {
      return batch;
    }

    @Override
    public void close() {
      if (batch != null) batch.close();
    }
  }

  /** Where one required output column comes from inside one file:
   * a physical file column (idx ≥ 0), a Hive partition constant
   * (idx == PART), all-null fill (idx == NULLS — the file predates
   * the column's ALTER add_column), or the column's declared initial
   * default (idx == DEFAULT — predates an add_column WITH default). */
  static final int SRC_NULLS = -1;
  static final int SRC_PART = -2;
  static final int SRC_DEFAULT = -3;

  static final class QuiverColumnarReader implements PartitionReader<ColumnarBatch> {
    private final Chunk[] chunks;
    private final StructType required;
    private final int metaFileIdx; // required-field index of META_FILE_COL, or -1

    private int chunkI = 0;
    private int pageI = 0; // within current chunk's range
    private RandomAccessFile raf;
    private Footer footer;
    private long[][] pageOffsets; // per file LEAF: absolute offset of each page
    private int[][] leafRanges;   // per file FIELD: {first leaf idx, leaf count}
    private int[] srcIdx;         // per required field: file col idx / SRC_PART / SRC_NULLS
    private boolean[] srcNullable; // per required field: the FILE column's nullability
    private Field[] srcField;     // per required field: the FILE's arrow field
    private QuiverNested.LeafSpec[][] srcSpecs; // per required field: leaf specs when nested
    private Object[] partConst;   // per required field: constant when SRC_PART
    private int rowLeaf;          // leaf idx of some FLAT file column (row counts), or -1
    private long[][] pageCrcs;    // per LEAF per page sidecar crc32, or null
    private ColumnarBatch batch;

    QuiverColumnarReader(Chunk[] chunks, StructType required) {
      this(chunks, required, -1);
    }

    QuiverColumnarReader(Chunk[] chunks, StructType required, int metaFileIdx) {
      this.chunks = chunks;
      this.required = required;
      this.metaFileIdx = metaFileIdx;
    }

    private void openChunk(Chunk c) throws IOException {
      closeFile();
      raf = new RandomAccessFile(new File(c.file), "r");
      footer = readFooter(new File(c.file));
      // page-body integrity: verify sidecar crc32s during page reads when
      // present and shape-consistent (the Python reader's contract —
      // wrong rows from a flipped bit must never decode silently); a
      // missing/corrupt/mismatched sidecar only disables verification,
      // as does the explicit verify_checksums=false opt-out (bench A/B)
      pageCrcs = c.verifyCrc ? loadCrcSidecar(new File(c.file), footer) : null;
      // NAME-BASED per-file resolution (declared → physical through the
      // cmap): column order may differ per file, absent columns null-fill
      // (files written before an ALTER add_column), partition columns are
      // plan-time constants. A physical type mismatch is an error — never
      // a silent misread.
      List<Field> fields = footer.arrowSchema.getFields();
      String why = c.expectSchema == null ? null : fileSchemaMismatch(fields, c.expectSchema);
      if (why != null) {
        throw new IOException(
            "quiverjvm: " + why + " in " + c.file
                + " (heterogeneous table)");
      }
      leafRanges = QuiverNested.leafRanges(footer.arrowSchema);
      rowLeaf = -1;
      for (int i = 0; i < fields.size(); i++) {
        if (!QuiverNested.isNested(fields.get(i).getType())) {
          rowLeaf = leafRanges[i][0];
          break;
        }
      }
      StructField[] req = required.fields();
      srcIdx = new int[req.length];
      srcNullable = new boolean[req.length];
      srcField = new Field[req.length];
      srcSpecs = new QuiverNested.LeafSpec[req.length][];
      partConst = new Object[req.length];
      for (int i = 0; i < req.length; i++) {
        String declared = req[i].name();
        if (i == metaFileIdx) {
          // file-identity metadata column: a per-chunk string constant
          // (root-relative path) — rides the SRC_PART fill path
          srcIdx[i] = SRC_PART;
          partConst[i] = c.rel;
          continue;
        }
        if (c.partVals != null && c.partVals.containsKey(declared)) {
          srcIdx[i] = SRC_PART;
          partConst[i] = c.partVals.get(declared);
          continue;
        }
        String phys = c.cmap != null ? c.cmap.getOrDefault(declared, declared) : declared;
        int fi = -1;
        for (int k = 0; k < fields.size(); k++) {
          if (fields.get(k).getName().equals(phys)) { fi = k; break; }
        }
        if (fi < 0) {
          if (c.defaults != null && c.defaults.containsKey(declared)) {
            srcIdx[i] = SRC_DEFAULT;
            partConst[i] = typedConstant(c.defaults.get(declared), req[i].dataType());
          } else {
            srcIdx[i] = SRC_NULLS;
          }
          continue;
        }
        DataType fileType = sparkType(fields.get(fi));
        if (!fileType.equals(req[i].dataType())) {
          throw new IOException(
              "quiverjvm: column '" + declared + "' is " + fileType + " in " + c.file
                  + " but the table declares " + req[i].dataType()
                  + " (rewrite the file with the table's type)");
        }
        srcIdx[i] = fi;
        // page layout follows the FILE's nullability, not the declared
        // field's (an ALTER never rewrites old pages)
        srcNullable[i] = fields.get(fi).isNullable();
        srcField[i] = fields.get(fi);
        if (QuiverNested.isNested(fields.get(fi).getType())) {
          List<QuiverNested.LeafSpec> specs = QuiverNested.leafSpecs(fields.get(fi));
          srcSpecs[i] = specs.toArray(new QuiverNested.LeafSpec[0]);
        }
      }
      pageOffsets = new long[footer.cols.length][];
      for (int ci = 0; ci < footer.cols.length; ci++) {
        PageMeta[] pages = footer.cols[ci].pages;
        long[] offs = new long[pages.length + 1];
        offs[0] = footer.cols[ci].offset;
        for (int p = 0; p < pages.length; p++) {
          offs[p + 1] = offs[p] + pages[p].length;
        }
        pageOffsets[ci] = offs;
      }
      pageI = c.pageStart;
    }

    @Override
    public boolean next() throws IOException {
      while (true) {
        if (chunkI >= chunks.length) return false;
        Chunk c = chunks[chunkI];
        if (raf == null) openChunk(c);
        // pageEnd < 0 = whole file (streaming chunks are planned without
        // footer reads; the footer is open here anyway)
        int end = c.pageEnd >= 0 ? c.pageEnd
            : footer.cols.length == 0 ? 0 : footer.cols[0].pages.length;
        if (pageI >= end || footer.cols.length == 0) {
          closeFile();
          chunkI++;
          continue;
        }
        batch = decodePage(c, pageI);
        pageI++;
        return true;
      }
    }

    @Override
    public ColumnarBatch get() {
      return batch;
    }

    private byte[] readLeafPage(int leaf, int p) throws IOException {
      PageMeta pm = footer.cols[leaf].pages[p];
      byte[] page = new byte[(int) pm.length];
      raf.seek(pageOffsets[leaf][p]);
      raf.readFully(page);
      if (pageCrcs != null && leaf < pageCrcs.length
          && p < pageCrcs[leaf].length) {
        java.util.zip.CRC32 crc = new java.util.zip.CRC32();
        crc.update(page, 0, page.length);
        if (crc.getValue() != pageCrcs[leaf][p]) {
          throw new IOException(
              "quiverjvm: page checksum mismatch (leaf " + leaf + ", page "
                  + p + ") in " + chunks[chunkI].file
                  + " — corrupt page body (sidecar crc32 disagrees)");
        }
      }
      return page;
    }

    private ColumnarBatch decodePage(Chunk c, int p) throws IOException {
      // top-level ROW count: a flat leaf's page meta carries it directly;
      // nested leaf metas count SLOTS (levels), so an all-nested schema
      // reads the first leaf page's uncompressed `rows u32` prefix instead
      // (the reference's row-stop `length`, write_nested_validity at
      // src/write/serialize.rs:217-232) — 4 bytes, no decode
      int rows;
      if (rowLeaf >= 0) {
        rows = (int) footer.cols[rowLeaf].pages[p].numValues;
      } else {
        byte[] b4 = new byte[4];
        raf.seek(pageOffsets[0][p]);
        raf.readFully(b4);
        rows = (b4[0] & 0xFF) | ((b4[1] & 0xFF) << 8) | ((b4[2] & 0xFF) << 16)
            | ((b4[3] & 0xFF) << 24);
      }
      OnHeapColumnVector[] vecs = OnHeapColumnVector.allocateColumns(Math.max(rows, 1), required);
      StructField[] req = required.fields();
      for (int out = 0; out < srcIdx.length; out++) {
        int ci = srcIdx[out];
        if (ci == SRC_NULLS) {
          vecs[out].putNulls(0, rows);
          continue;
        }
        if (ci == SRC_PART || ci == SRC_DEFAULT) {
          fillConstant(vecs[out], rows, req[out].dataType(), partConst[out]);
          continue;
        }
        int leafLo = leafRanges[ci][0];
        if (srcSpecs[out] != null) {
          // nested column: decode every leaf's page, then Dremel-assemble
          QuiverNested.LeafSpec[] specs = srcSpecs[out];
          QuiverNested.DLeaf[] leaves = new QuiverNested.DLeaf[specs.length];
          int[] rowsOut = new int[1];
          for (int l = 0; l < specs.length; l++) {
            byte[] page = readLeafPage(leafLo + l, p);
            int nSlots = (int) footer.cols[leafLo + l].pages[p].numValues;
            leaves[l] = QuiverNested.decodeLeafPage(page, nSlots, specs[l], rowsOut);
          }
          QuiverNested.assembleColumn(srcField[out], leaves, vecs[out], rows);
          continue;
        }
        byte[] page = readLeafPage(leafLo, p);
        fillVector(vecs[out], page, rows, req[out].dataType(), srcNullable[out],
            srcField[out]);
      }
      return new ColumnarBatch(vecs, rows);
    }

    /** Can typedConstant materialize a default for this declared type?
     * Checked at PLAN time by guardManifestNode so ineligible tables are
     * refused before any job instead of failing executor-side reader init
     * (ADVICE r12). Must stay in lockstep with typedConstant's switch and
     * with maintenance.add_column's default check. */
    static boolean defaultFillable(DataType t) {
      return t == DataTypes.ByteType || t == DataTypes.ShortType
          || t == DataTypes.IntegerType || t == DataTypes.LongType
          || t == DataTypes.FloatType || t == DataTypes.DoubleType
          || t == DataTypes.BooleanType || t == DataTypes.DateType
          || t == DataTypes.TimestampNTZType || t == DataTypes.TimestampType
          || t instanceof DecimalType || t == DataTypes.StringType;
    }

    /** Raw manifest default (JSON scalar or canonical string) → the
     * constant object fillConstant consumes, typed by the declared Spark
     * type (mirror of sources/manifest.py decode_default). */
    static Object typedConstant(Object raw, DataType t) {
      if (raw == null) return null;
      if (t == DataTypes.ByteType || t == DataTypes.ShortType
          || t == DataTypes.IntegerType || t == DataTypes.LongType) {
        return ((Number) raw).longValue();
      }
      if (t == DataTypes.FloatType || t == DataTypes.DoubleType) {
        return ((Number) raw).doubleValue();
      }
      if (t == DataTypes.BooleanType) return (Boolean) raw;
      if (t == DataTypes.DateType) {
        return java.time.LocalDate.parse(raw.toString()).toEpochDay();
      }
      if (t == DataTypes.TimestampNTZType || t == DataTypes.TimestampType) {
        // canonical Python str(datetime): space separator, optional
        // .ffffff fraction, optional +HH:MM offset (tz-aware)
        String s = raw.toString().replace(' ', 'T');
        try {
          java.time.LocalDateTime ldt = java.time.LocalDateTime.parse(s);
          return ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1_000_000L
              + ldt.getNano() / 1000L;
        } catch (java.time.format.DateTimeParseException e) {
          java.time.OffsetDateTime odt = java.time.OffsetDateTime.parse(s);
          return odt.toInstant().getEpochSecond() * 1_000_000L
              + odt.getNano() / 1000L;
        }
      }
      if (t instanceof DecimalType) return new BigDecimal(raw.toString());
      if (t == DataTypes.StringType) return raw.toString();
      throw new UnsupportedOperationException(
          "quiverjvm: column default unsupported for type " + t
              + ": declare the column without a default");
    }

    private static void fillConstant(OnHeapColumnVector vec, int rows, DataType t, Object v) {
      if (v == null) {
        vec.putNulls(0, rows);
        return;
      }
      if (t == DataTypes.LongType || t == DataTypes.TimestampType
          || t == DataTypes.TimestampNTZType) {
        vec.putLongs(0, rows, ((Number) v).longValue());
      } else if (t == DataTypes.IntegerType || t == DataTypes.DateType) {
        vec.putInts(0, rows, (int) ((Number) v).longValue());
      } else if (t == DataTypes.ShortType) {
        vec.putShorts(0, rows, (short) ((Number) v).longValue());
      } else if (t == DataTypes.ByteType) {
        vec.putBytes(0, rows, (byte) ((Number) v).longValue());
      } else if (t == DataTypes.DoubleType) {
        vec.putDoubles(0, rows, ((Number) v).doubleValue());
      } else if (t == DataTypes.FloatType) {
        vec.putFloats(0, rows, (float) ((Number) v).doubleValue());
      } else if (t == DataTypes.BooleanType) {
        boolean b = (Boolean) v;
        for (int i = 0; i < rows; i++) vec.putBoolean(i, b);
      } else if (t instanceof DecimalType) {
        DecimalType dt = (DecimalType) t;
        Decimal d = Decimal.apply((BigDecimal) v);
        for (int i = 0; i < rows; i++) vec.putDecimal(i, d, dt.precision());
      } else {
        byte[] b = v.toString().getBytes(java.nio.charset.StandardCharsets.UTF_8);
        for (int i = 0; i < rows; i++) vec.putByteArray(i, b, 0, b.length);
      }
    }

    private void fillVector(OnHeapColumnVector vec, byte[] page, int rows, DataType t,
        boolean nullable, Field arrowField) throws IOException {
      QuiverPageDecoder.Cursor cur =
          new QuiverPageDecoder.Cursor(page, 0, page.length);
      boolean[] valid = null;
      if (nullable) {
        valid = QuiverPageDecoder.readValidity(cur, rows);
      }
      ArrowType at0 = arrowField.getType();
      if (at0 instanceof ArrowType.Int && !((ArrowType.Int) at0).getIsSigned()) {
        // unsigned widening (round-12 lift): pages store the raw physical
        // width; zero-extend into the widened Spark type (uint8→short,
        // uint16→int, uint32→long, uint64→decimal(20,0)) — the Spark-type
        // switch below would decode at the WIDENED width and misread
        int bw = ((ArrowType.Int) at0).getBitWidth();
        int w = bw / 8;
        byte[] raw = QuiverPageDecoder.decodeValues(cur, rows, w);
        for (int i = 0; i < rows; i++) {
          long u = QuiverPageDecoder.leLong(raw, i * w, w); // zero-extended
          switch (bw) {
            case 8: vec.putShort(i, (short) u); break;
            case 16: vec.putInt(i, (int) u); break;
            case 32: vec.putLong(i, u); break;
            default:
              BigDecimal bd = new BigDecimal(new BigInteger(Long.toUnsignedString(u)));
              vec.putDecimal(i, Decimal.apply(bd), 20);
          }
        }
        if (valid != null) {
          for (int i = 0; i < rows; i++) {
            if (!valid[i]) vec.putNull(i);
          }
        }
        return;
      }
      if (t == DataTypes.LongType || t == DataTypes.TimestampType || t == DataTypes.TimestampNTZType) {
        byte[] raw = QuiverPageDecoder.decodeValues(cur, rows, 8);
        org.apache.arrow.vector.types.TimeUnit unit =
            at0 instanceof ArrowType.Timestamp
                ? ((ArrowType.Timestamp) at0).getUnit()
                : org.apache.arrow.vector.types.TimeUnit.MICROSECOND;
        if (unit == org.apache.arrow.vector.types.TimeUnit.MICROSECOND) {
          vec.putLongsLittleEndian(0, rows, raw, 0);
        } else {
          // non-us file unit (round-13 lift): convert per value into the
          // us OnHeapColumnVector — pyarrow safe-cast parity via toMicros.
          // NULL slots are skipped: Arrow leaves undefined bytes at null
          // positions (our Python encoder happens to forward-fill, but
          // that is its private choice, not a format invariant), and a
          // garbage ns value can fail toMicros' exactness check — a query
          // must never die on a value it was never going to surface.
          for (int i = 0; i < rows; i++) {
            if (valid != null && !valid[i]) continue;
            vec.putLong(i, toMicros(QuiverPageDecoder.leLong(raw, i * 8, 8), unit));
          }
        }
      } else if (t == DataTypes.IntegerType || t == DataTypes.DateType) {
        byte[] raw = QuiverPageDecoder.decodeValues(cur, rows, 4);
        vec.putIntsLittleEndian(0, rows, raw, 0);
      } else if (t == DataTypes.DoubleType) {
        byte[] raw = QuiverPageDecoder.decodeValues(cur, rows, 8);
        vec.putDoublesLittleEndian(0, rows, raw, 0);
      } else if (t == DataTypes.FloatType) {
        byte[] raw = QuiverPageDecoder.decodeValues(cur, rows, 4);
        vec.putFloatsLittleEndian(0, rows, raw, 0);
      } else if (t == DataTypes.ShortType) {
        byte[] raw = QuiverPageDecoder.decodeValues(cur, rows, 2);
        for (int i = 0; i < rows; i++) {
          vec.putShort(i, (short) QuiverPageDecoder.leLong(raw, i * 2, 2));
        }
      } else if (t == DataTypes.ByteType) {
        byte[] raw = QuiverPageDecoder.decodeValues(cur, rows, 1);
        vec.putBytes(0, rows, raw, 0);
      } else if (t == DataTypes.BooleanType) {
        boolean[] vals = QuiverPageDecoder.decodeBoolean(cur, rows);
        for (int i = 0; i < rows; i++) vec.putBoolean(i, vals[i]);
      } else if (t == DataTypes.StringType || t == DataTypes.BinaryType) {
        ArrowType at = arrowField.getType();
        int offsetWidth = (at instanceof ArrowType.LargeUtf8
            || at instanceof ArrowType.LargeBinary) ? 8 : 4;
        QuiverPageDecoder.Binary bin = QuiverPageDecoder.decodeBinary(cur, rows, offsetWidth);
        for (int i = 0; i < rows; i++) {
          int off = (int) bin.offsets[i];
          int len = (int) (bin.offsets[i + 1] - bin.offsets[i]);
          vec.putByteArray(i, bin.values, off, len);
        }
      } else if (t instanceof DecimalType) {
        DecimalType dt = (DecimalType) t;
        byte[] raw = QuiverPageDecoder.decodeValues(cur, rows, 16);
        byte[] be = new byte[16];
        for (int i = 0; i < rows; i++) {
          for (int k = 0; k < 16; k++) be[k] = raw[i * 16 + (15 - k)];
          BigInteger unscaled = new BigInteger(be);
          vec.putDecimal(i, Decimal.apply(new BigDecimal(unscaled, dt.scale())), dt.precision());
        }
      } else {
        throw new UnsupportedOperationException("quiverjvm: type " + t);
      }
      if (valid != null) {
        for (int i = 0; i < rows; i++) {
          if (!valid[i]) vec.putNull(i);
        }
      }
    }

    private void closeFile() throws IOException {
      if (raf != null) {
        raf.close();
        raf = null;
      }
    }

    @Override
    public void close() throws IOException {
      closeFile();
    }
  }
}

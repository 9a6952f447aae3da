package io.quiverspark;

import java.io.File;
import java.io.IOException;
import java.io.Serializable;
import java.math.BigDecimal;
import java.util.ArrayList;
import java.util.List;

import com.fasterxml.jackson.databind.JsonNode;
import org.apache.spark.sql.sources.EqualTo;
import org.apache.spark.sql.sources.Filter;
import org.apache.spark.sql.sources.GreaterThan;
import org.apache.spark.sql.sources.GreaterThanOrEqual;
import org.apache.spark.sql.sources.In;
import org.apache.spark.sql.sources.IsNotNull;
import org.apache.spark.sql.sources.IsNull;
import org.apache.spark.sql.sources.LessThan;
import org.apache.spark.sql.sources.LessThanOrEqual;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;

/**
 * Plan-time zone-map page pruning for the JVM scan — the engine-side stats
 * extension over the reference format (the reference persists NO statistics:
 * PageMeta is only {length, num_values}, src/lib.rs:75-80), and the only
 * reader that prunes (the Python DataSource is the unpruned fallback). The
 * stored domains are format/stats.py's (the sidecar writer): a page is
 * skipped ONLY when no row can satisfy a pushed predicate, bounds with null
 * stats always match, string maxima may be null (64-char truncation on the
 * writer side) so upper-bound checks then pass, and value comparisons are
 * null-rejecting (an all-null page never matches eq/lt/gt).
 *
 * Conservative-by-construction choices:
 * - string pruning only fires when filter value AND stored bounds are pure
 *   ASCII — Java's UTF-16 code-unit order diverges from the sidecar's
 *   UTF-8/code-point order above the BMP, and a wrong prune is a lost row;
 * - mixed integral/floating comparisons go through BigDecimal (no silent
 *   long→double precision loss on 19-digit ids).
 *
 * Stats arrive from the commit-time manifest (sidecars are inlined per
 * entry — ZERO extra plan I/O) or, manifest-less, from the per-file
 * `.stats.json` sidecar, read only when filters were actually pushed.
 */
final class QuiverPagePrune {
  private QuiverPagePrune() {}

  /** One pushed predicate, pre-resolved to the stored-stat domain. */
  static final class Pred implements Serializable {
    private static final long serialVersionUID = 1L;
    final String column;
    final String op; // eq | gt | gte | lt | lte | isnull | isnotnull | in
    final Object value; // stored-domain value; Object[] for in; null for is*

    Pred(String column, String op, Object value) {
      this.column = column;
      this.op = op;
      this.value = value;
    }

    @Override
    public String toString() {
      return column + " " + op + (value == null ? "" : " " + value);
    }
  }

  // ---- filter → Pred translation ------------------------------------------

  /** Translate a Spark source Filter into a Pred, or null when the filter
   * shape/type/column is outside the pruning domain (it is then simply not
   * used for pruning — Spark re-evaluates every filter above the scan). */
  static Pred translate(Filter f, StructType schema) {
    if (f instanceof IsNull) {
      return new Pred(((IsNull) f).attribute(), "isnull", null);
    }
    if (f instanceof IsNotNull) {
      return new Pred(((IsNotNull) f).attribute(), "isnotnull", null);
    }
    String col;
    String op;
    Object raw;
    if (f instanceof EqualTo) {
      col = ((EqualTo) f).attribute();
      op = "eq";
      raw = ((EqualTo) f).value();
    } else if (f instanceof GreaterThan) {
      col = ((GreaterThan) f).attribute();
      op = "gt";
      raw = ((GreaterThan) f).value();
    } else if (f instanceof GreaterThanOrEqual) {
      col = ((GreaterThanOrEqual) f).attribute();
      op = "gte";
      raw = ((GreaterThanOrEqual) f).value();
    } else if (f instanceof LessThan) {
      col = ((LessThan) f).attribute();
      op = "lt";
      raw = ((LessThan) f).value();
    } else if (f instanceof LessThanOrEqual) {
      col = ((LessThanOrEqual) f).attribute();
      op = "lte";
      raw = ((LessThanOrEqual) f).value();
    } else if (f instanceof In) {
      col = ((In) f).attribute();
      DataType t = fieldType(schema, col);
      if (t == null) return null;
      Object[] vals = ((In) f).values();
      Object[] stored = new Object[vals.length];
      for (int i = 0; i < vals.length; i++) {
        stored[i] = toStored(vals[i], t);
        if (stored[i] == null) return null; // un-convertible member: no prune
      }
      return new Pred(col, "in", stored);
    } else {
      return null;
    }
    DataType t = fieldType(schema, col);
    if (t == null) return null;
    Object stored = toStored(raw, t);
    return stored == null ? null : new Pred(col, op, stored);
  }

  private static DataType fieldType(StructType schema, String col) {
    try {
      return schema.fields()[schema.fieldIndex(col)].dataType();
    } catch (IllegalArgumentException e) {
      return null;
    }
  }

  /** Spark filter value → the sidecar's stored domain (format/stats.py
   * module docstring): temporal values become physical ticks, numbers stay
   * numbers, strings must be ASCII. Null = un-convertible (no pruning). */
  static Object toStored(Object v, DataType t) {
    if (v == null) return null;
    if (t == DataTypes.DateType) {
      if (v instanceof java.time.LocalDate) return ((java.time.LocalDate) v).toEpochDay();
      if (v instanceof java.sql.Date) return ((java.sql.Date) v).toLocalDate().toEpochDay();
      return null;
    }
    if (t == DataTypes.TimestampType) {
      if (v instanceof java.time.Instant) {
        java.time.Instant i = (java.time.Instant) v;
        return Math.addExact(Math.multiplyExact(i.getEpochSecond(), 1_000_000L), i.getNano() / 1_000L);
      }
      if (v instanceof java.sql.Timestamp) {
        java.sql.Timestamp ts = (java.sql.Timestamp) v;
        return Math.addExact(
            Math.multiplyExact(ts.getTime() / 1000L, 1_000_000L), ts.getNanos() / 1_000L);
      }
      return null;
    }
    if (t == DataTypes.TimestampNTZType) {
      if (v instanceof java.time.LocalDateTime) {
        java.time.LocalDateTime dt = (java.time.LocalDateTime) v;
        long sec = dt.toEpochSecond(java.time.ZoneOffset.UTC);
        return Math.addExact(Math.multiplyExact(sec, 1_000_000L), dt.getNano() / 1_000L);
      }
      return null;
    }
    if (t == DataTypes.BooleanType) {
      return v instanceof Boolean ? v : null;
    }
    if (t == DataTypes.StringType) {
      if (!(v instanceof String)) return null;
      return isAscii((String) v) ? v : null;
    }
    if (t == DataTypes.ByteType || t == DataTypes.ShortType
        || t == DataTypes.IntegerType || t == DataTypes.LongType) {
      return v instanceof Number && !(v instanceof Double) && !(v instanceof Float)
          ? ((Number) v).longValue()
          : null;
    }
    if (t == DataTypes.FloatType || t == DataTypes.DoubleType) {
      return v instanceof Number ? ((Number) v).doubleValue() : null;
    }
    return null; // decimal/binary/other: no stats stored for these
  }

  static boolean isAscii(String s) {
    for (int i = 0; i < s.length(); i++) {
      if (s.charAt(i) > 127) return false;
    }
    return true;
  }

  // ---- per-file stats -----------------------------------------------------

  /** Per-file page stats for the filtered columns; null = no stats
   * available (nothing prunable for this file). */
  static final class FileStats {
    final JsonNode columns; // sidecar "columns" node
    final JsonNode pageRows; // sidecar "page_rows" array

    FileStats(JsonNode columns, JsonNode pageRows) {
      this.columns = columns;
      this.pageRows = pageRows;
    }
  }

  /** Stats for one file: inlined in its manifest entry, else the on-disk
   * sidecar (read only because filters were pushed). */
  static FileStats loadStats(JsonNode manifestEntry, File dataFile) {
    JsonNode sc = manifestEntry == null ? null : manifestEntry.get("sidecar");
    if (sc == null || sc.isNull()) {
      File side = new File(dataFile.getPath() + ".stats.json");
      if (!side.isFile()) return null;
      try {
        sc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(side);
      } catch (IOException e) {
        return null;
      }
    }
    if (sc == null || sc.path("version").asInt(-1) != 1) return null;
    JsonNode cols = sc.get("columns");
    JsonNode rows = sc.get("page_rows");
    if (cols == null || rows == null) return null;
    return new FileStats(cols, rows);
  }

  /** keep[p] for every page of one file; null = keep all (no stats). */
  static boolean[] keepMask(FileStats st, List<Pred> preds, int nPages) {
    if (st == null || preds.isEmpty()) return null;
    boolean[] keep = new boolean[nPages];
    java.util.Arrays.fill(keep, true);
    for (Pred pred : preds) {
      JsonNode col = st.columns.get(pred.column);
      if (col == null) continue; // no stats for this column
      JsonNode mins = col.get("min");
      JsonNode maxs = col.get("max");
      JsonNode nulls = col.get("nulls");
      if (mins == null || maxs == null || nulls == null) continue;
      for (int p = 0; p < nPages; p++) {
        if (!keep[p]) continue;
        if (p >= mins.size() || p >= st.pageRows.size()) continue;
        Object lo = jsonValue(mins.get(p));
        Object hi = jsonValue(maxs.get(p));
        long nNull = nulls.get(p).asLong(0);
        long nVals = st.pageRows.get(p).asLong(Long.MAX_VALUE);
        if (!pageMayMatch(pred, lo, hi, nNull, nVals)) keep[p] = false;
      }
      bloomPass(col, pred, keep, nPages);
    }
    return keep;
  }

  // ---- bloom pass (format/stats.py::bloom_may_contain parity) -------------

  private static final int BLOOM_K = 5; // stats.py BLOOM_K (stored k unused there too)

  /** Point-lookup pruning: min/max can't prune an unsorted
   * high-cardinality column, but a per-page bloom answers eq/in
   * membership — no false negatives, so this only ever REMOVES pages the
   * value cannot be in. */
  static void bloomPass(JsonNode col, Pred pred, boolean[] keep, int nPages) {
    if (!pred.op.equals("eq") && !pred.op.equals("in")) return;
    JsonNode bl = col.get("bloom");
    if (bl == null || bl.isNull()) return;
    JsonNode pages = bl.get("pages");
    if (pages == null || pages.size() != nPages) return;
    Object[] values =
        pred.op.equals("in") ? (Object[]) pred.value : new Object[] {pred.value};
    byte[][] keys = new byte[values.length][];
    for (int i = 0; i < values.length; i++) {
      keys[i] = bloomKey(values[i]);
      if (keys[i] == null) return; // value outside the bloom domain: no pruning
    }
    for (int p = 0; p < nPages; p++) {
      if (!keep[p]) continue;
      JsonNode b64 = pages.get(p);
      if (b64 == null || b64.isNull()) continue;
      byte[] bits;
      try {
        bits = java.util.Base64.getDecoder().decode(b64.asText());
      } catch (IllegalArgumentException e) {
        continue;
      }
      boolean any = false;
      for (byte[] k : keys) {
        if (bloomMayContain(bits, k)) {
          any = true;
          break;
        }
      }
      if (!any) keep[p] = false;
    }
  }

  /** stats.py::bloom_key — stored-domain value → canonical hash input;
   * null outside the bloom domain (bools, floats). */
  static byte[] bloomKey(Object v) {
    if (v instanceof Boolean || v instanceof Double) return null;
    if (v instanceof Long) {
      return ("i:" + v).getBytes(java.nio.charset.StandardCharsets.US_ASCII);
    }
    if (v instanceof String) {
      return ("s:" + v).getBytes(java.nio.charset.StandardCharsets.UTF_8);
    }
    return null;
  }

  static boolean bloomMayContain(byte[] bits, byte[] key) {
    long m = (long) bits.length * 8;
    // the writer rounds m up to a power of two; anything else means a
    // foreign/corrupt filter — 64-bit wrapping (h1 + i*h2) only equals
    // Python's exact big-int mod when m divides 2^64, so refuse to prune
    if (m <= 0 || (m & (m - 1)) != 0) return true;
    byte[] d = Blake2b.digest(key, 16);
    long h1 = leLong(d, 0);
    long h2 = leLong(d, 8);
    for (int i = 0; i < BLOOM_K; i++) {
      long idx = (h1 + (long) i * h2) & (m - 1);
      if ((bits[(int) (idx >>> 3)] >> (idx & 7) & 1) == 0) return false;
    }
    return true;
  }

  private static long leLong(byte[] b, int off) {
    long v = 0;
    for (int i = 7; i >= 0; i--) {
      v = (v << 8) | (b[off + i] & 0xFFL);
    }
    return v;
  }

  static Object jsonValue(JsonNode n) {
    if (n == null || n.isNull()) return null;
    if (n.isBoolean()) return n.booleanValue();
    if (n.isIntegralNumber()) {
      return n.canConvertToLong() ? (Object) n.longValue() : null; // huge: no prune
    }
    if (n.isFloatingPointNumber()) return n.doubleValue();
    if (n.isTextual()) {
      String s = n.textValue();
      return isAscii(s) ? s : null; // non-ASCII bound: ordering unsafe, no prune
    }
    return null;
  }

  /** May any row of a page with these bounds satisfy the predicate? */
  static boolean pageMayMatch(Pred pred, Object lo, Object hi, long nulls, long numValues) {
    String op = pred.op;
    if (op.equals("isnull")) return nulls > 0;
    if (op.equals("isnotnull")) return nulls < numValues;
    if (nulls >= numValues) return false; // all-null page never matches values
    if (lo == null) return true; // no stats for this page
    if (op.equals("in")) {
      for (Object v : (Object[]) pred.value) {
        if (!cmpOk(v, lo)) return true;
        if (cmp(v, lo) >= 0 && (hi == null || cmp(v, hi) <= 0)) return true;
      }
      return false;
    }
    Object value = pred.value;
    if (!cmpOk(value, lo)) return true;
    switch (op) {
      case "eq":
        return cmp(value, lo) >= 0 && (hi == null || cmp(value, hi) <= 0);
      case "gt":
        return hi == null || cmp(hi, value) > 0;
      case "gte":
        return hi == null || cmp(hi, value) >= 0;
      case "lt":
        return cmp(lo, value) < 0;
      case "lte":
        return cmp(lo, value) <= 0;
      default:
        return true;
    }
  }

  /** Comparable under the stored domain (numbers with numbers, strings
   * with strings, bools with bools — never across). */
  static boolean cmpOk(Object a, Object b) {
    if (a instanceof Boolean || b instanceof Boolean) {
      return a instanceof Boolean && b instanceof Boolean;
    }
    if (a instanceof Number && b instanceof Number) return true;
    return a instanceof String && b instanceof String;
  }

  @SuppressWarnings({"unchecked", "rawtypes"})
  static int cmp(Object a, Object b) {
    if (a instanceof Number && b instanceof Number) {
      if (a instanceof Long && b instanceof Long) {
        return Long.compare((Long) a, (Long) b);
      }
      double da = ((Number) a).doubleValue();
      double db = ((Number) b).doubleValue();
      if (Double.isNaN(da) || Double.isNaN(db)) {
        // NaN never satisfies an ordered comparison; report "below range"
        // for cmp(value, lo) so eq/gte prune and lt keeps conservatively
        return Double.compare(da, db);
      }
      // exact mixed compare: no long→double precision loss on wide ids
      return new BigDecimal(((Number) a).toString())
          .compareTo(new BigDecimal(((Number) b).toString()));
    }
    return ((Comparable) a).compareTo(b);
  }

  /** Pushed-filter subset usable for pruning, in plan-display order. */
  static List<Pred> translateAll(Filter[] filters, StructType schema) {
    List<Pred> out = new ArrayList<>();
    if (filters == null) return out;
    for (Filter f : filters) {
      Pred p = translate(f, schema);
      if (p != null) out.add(p);
    }
    return out;
  }
}

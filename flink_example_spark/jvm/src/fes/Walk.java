package fes;

import java.io.DataInput;
import java.io.DataOutput;
import java.io.IOException;
import java.io.Serializable;
import java.math.BigDecimal;
import java.util.Collection;
import org.apache.spark.sql.Row;

/**
 * One entity's fold as {@link StreamFold} drives it: rows come in, and each
 * {@link #advance} emits what the rows at or before a limit complete. The
 * two walks are {@link EntityWalk} (training examples) and
 * {@link HistoryWalk} (version rows).
 */
interface Walk {
  /** {@link #due} when nothing can come out before more rows do. */
  long NONE = Long.MIN_VALUE;

  void add(Row r);

  /** Orders the rows added; {@link #advance} needs it. */
  void sort();

  /**
   * Adds to {@code out} what the rows with ts at or before {@code limit}
   * complete. The caller must have added every row with ts at or before
   * {@code limit}.
   */
  void advance(Object entity, long limit, Collection<Row> out);

  /** The least limit at which {@link #advance} emits more, or {@link #NONE}. */
  long due();

  /** Writes what a later {@link #advance} still needs. */
  void save(DataOutput out) throws IOException;

  /** Restores what {@link #save} wrote into this empty walk. */
  void load(DataInput in) throws IOException;

  /** A nullable decimal, as text. */
  static void writeDecimal(DataOutput out, BigDecimal d) throws IOException {
    out.writeUTF(d == null ? "" : d.toString());
  }

  static BigDecimal readDecimal(DataInput in) throws IOException {
    String s = in.readUTF();
    return s.isEmpty() ? null : new BigDecimal(s);
  }

  /** Makes each entity's empty walk; it is shipped to the executors. */
  interface Factory extends Serializable {
    Walk create();
  }
}

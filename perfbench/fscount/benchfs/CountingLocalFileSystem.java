package benchfs;

import java.io.IOException;
import java.util.EnumSet;
import java.util.concurrent.atomic.AtomicLongArray;

import org.apache.hadoop.fs.CreateFlag;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FSDataOutputStream;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.util.Progressable;

/**
 * The stock local file system with operation counters. The local
 * file system keeps no operation counts in its Hadoop statistics (only
 * bytes), so the benchmark installs this class as {@code fs.file.impl}:
 * it behaves exactly like {@link LocalFileSystem} (checksummed, over
 * {@link RawLocalFileSystem}) and counts each top-level call on the raw
 * file system, from the driver and the executor threads alike.
 */
public class CountingLocalFileSystem extends LocalFileSystem {
  public static final int OPEN = 0, CREATE = 1, RENAME = 2, DELETE = 3, MKDIRS = 4, LIST = 5, STAT = 6;
  private static final AtomicLongArray COUNTS = new AtomicLongArray(7);

  /** Cumulative counts, indexed by the constants above. */
  public static long[] counts() {
    long[] out = new long[COUNTS.length()];
    for (int i = 0; i < out.length; i++) {
      out[i] = COUNTS.get(i);
    }
    return out;
  }

  public CountingLocalFileSystem() {
    super(new Raw());
  }

  /** Counts only the outermost call of a thread, so overloads that delegate to each other count once. */
  static final class Raw extends RawLocalFileSystem {
    private static final ThreadLocal<int[]> DEPTH = ThreadLocal.withInitial(() -> new int[1]);

    private static void enter(int op) {
      if (DEPTH.get()[0]++ == 0) {
        COUNTS.incrementAndGet(op);
      }
    }

    private static void exit() {
      DEPTH.get()[0]--;
    }

    @Override
    public FSDataInputStream open(Path f, int bufferSize) throws IOException {
      enter(OPEN);
      try {
        return super.open(f, bufferSize);
      } finally {
        exit();
      }
    }

    @Override
    public FSDataOutputStream create(Path f, boolean overwrite, int bufferSize, short replication,
        long blockSize, Progressable progress) throws IOException {
      enter(CREATE);
      try {
        return super.create(f, overwrite, bufferSize, replication, blockSize, progress);
      } finally {
        exit();
      }
    }

    @Override
    public FSDataOutputStream create(Path f, FsPermission permission, boolean overwrite,
        int bufferSize, short replication, long blockSize, Progressable progress)
        throws IOException {
      enter(CREATE);
      try {
        return super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress);
      } finally {
        exit();
      }
    }

    @Override
    public FSDataOutputStream createNonRecursive(Path f, FsPermission permission,
        EnumSet<CreateFlag> flags, int bufferSize, short replication, long blockSize,
        Progressable progress) throws IOException {
      enter(CREATE);
      try {
        return super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize,
            progress);
      } finally {
        exit();
      }
    }

    @Override
    public FSDataOutputStream append(Path f, int bufferSize, Progressable progress)
        throws IOException {
      enter(CREATE);
      try {
        return super.append(f, bufferSize, progress);
      } finally {
        exit();
      }
    }

    @Override
    public boolean rename(Path src, Path dst) throws IOException {
      enter(RENAME);
      try {
        return super.rename(src, dst);
      } finally {
        exit();
      }
    }

    @Override
    public boolean delete(Path p, boolean recursive) throws IOException {
      enter(DELETE);
      try {
        return super.delete(p, recursive);
      } finally {
        exit();
      }
    }

    @Override
    public boolean mkdirs(Path f) throws IOException {
      enter(MKDIRS);
      try {
        return super.mkdirs(f);
      } finally {
        exit();
      }
    }

    @Override
    public boolean mkdirs(Path f, FsPermission permission) throws IOException {
      enter(MKDIRS);
      try {
        return super.mkdirs(f, permission);
      } finally {
        exit();
      }
    }

    @Override
    public FileStatus[] listStatus(Path f) throws IOException {
      enter(LIST);
      try {
        return super.listStatus(f);
      } finally {
        exit();
      }
    }

    @Override
    public FileStatus getFileStatus(Path f) throws IOException {
      enter(STAT);
      try {
        return super.getFileStatus(f);
      } finally {
        exit();
      }
    }
  }
}

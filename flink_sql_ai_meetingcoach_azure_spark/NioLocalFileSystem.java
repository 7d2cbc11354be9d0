package flink_sql_ai_meetingcoach_azure_spark;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The {@code file://} FileSystem without a child process per file.
 *
 * <p>Without {@code libhadoop.so} the stock {@link RawLocalFileSystem} runs
 * {@code chmod} for every file it creates and {@code readlink} for every
 * {@code getFileLinkStatus} (each FileContext create and rename). {@link Raw}
 * does both in-process with java.nio and is otherwise the stock class. This
 * class checksums it as {@link LocalFileSystem} does; {@link Fs} is the same
 * for FileContext, as {@code local.LocalFs}.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * Refuses to rename onto an existing file, as Hive's
   * {@code ProxyLocalFileSystem} does: the service loader picks that class
   * for {@code file://} when no class is configured.
   */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** {@link RawLocalFileSystem} with its two per-file shell commands done in-process. */
  public static class Raw extends RawLocalFileSystem {
    private static final int S_IFMT = 0170000;
    private static final int S_IFDIR = 0040000;
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    /**
     * As {@code chmod} with the four-digit octal mode. A sticky bit, or a
     * directory with setuid/setgid set (which that {@code chmod} keeps and
     * a nine-bit mode would clear), takes the stock path.
     */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      java.nio.file.Path file = pathToFile(p).toPath();
      try {
        int now = (Integer) Files.getAttribute(file, "unix:mode");
        if ((mode & ~0777) == 0 && ((now & S_IFMT) != S_IFDIR || (now & 06000) == 0)) {
          Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
          for (int i = 0; i < BITS.length; i++) {
            if ((mode & (0400 >> i)) != 0) {
              perms.add(BITS[i]);
            }
          }
          Files.setPosixFilePermissions(file, perms);
          return;
        }
      } catch (UnsupportedOperationException | IllegalArgumentException e) {
        // no POSIX attributes here: the stock path
      }
      super.setPermission(p, permission);
    }

    /**
     * The stock method runs {@code readlink} on {@code f.toString()}. For a
     * qualified path (every FileContext call) that string starts with
     * {@code file:}, names nothing relative to the working directory and
     * reads as "not a link". The same string is tested in-process; only a
     * real link takes the stock path.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      return isLink(f) ? super.getFileLinkStatus(f) : getFileStatus(f);
    }

    private static boolean isLink(Path f) {
      try {
        return Files.isSymbolicLink(new File(f.toString()).toPath());
      } catch (InvalidPathException e) {
        return false;
      }
    }
  }

  /** The FileContext face ({@code AbstractFileSystem}), as {@code local.LocalFs}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** {@code local.RawLocalFs} over {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}

package eventbridge_etl_spark.jvm;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The checksummed local FileSystem ({@code file://}) without per-file
 * processes. Without libhadoop, stock {@code RawLocalFileSystem} forks
 * {@code chmod} for every file and directory it creates and
 * {@code readlink} for every link-status check; {@link Raw} does both
 * with syscalls. {@code rename} keeps the rule of hive-exec's
 * {@code ProxyLocalFileSystem}, which {@code file://} resolves to
 * otherwise: renaming onto an existing file returns false.
 */
public class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  public LocalFileSystem() { super(new Raw()); }

  @Override @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** Raw local FileSystem whose chmod and link check are syscalls. */
  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) { super.setPermission(p, permission); return; }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < 9; i++) if ((mode & (0400 >> i)) != 0) perms.add(BITS[i]);
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);
      }
    }

    /** Stock runs {@code readlink} on {@code new File(f.toString())}; only a link there needs it. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      return Files.isSymbolicLink(new File(f.toString()).toPath())
          ? super.getFileLinkStatus(f) : getFileStatus(f);
    }
  }

  /** {@code FileContext} binding, as {@code LocalFs} over {@code RawLocalFs}. */
  public static class Fs extends ChecksumFs {
    Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, "file", false);
    }

    @Override public int getUriDefaultPort() { return -1; }
    @Override public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }
    @Override @Deprecated public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }
    @Override public boolean isValidName(String src) { return true; }
  }
}

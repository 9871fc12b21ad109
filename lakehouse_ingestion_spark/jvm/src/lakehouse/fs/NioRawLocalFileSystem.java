package lakehouse.fs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local file system without child processes. Without libhadoop,
 * the stock class runs {@code chmod} for every file and directory it creates
 * and {@code readlink} for every link lookup; here both are NIO calls.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (permission.getStickyBit()) {  // not expressible through NIO
      super.setPermission(p, permission);
      return;
    }
    short mode = permission.toShort();
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (PosixFilePermission bit : PosixFilePermission.values()) {  // OWNER_READ (0400) first
      if ((mode & (0400 >> bit.ordinal())) != 0) {
        perms.add(bit);
      }
    }
    try {
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    } catch (NoSuchFileException e) {
      throw new FileNotFoundException(e.getMessage());
    }
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    FileStatus fi = linkStatus(f);
    if (fi.isSymlink()) {
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
    }
    return fi;
  }

  @Override
  public Path getLinkTarget(Path f) throws IOException {
    return linkStatus(f).getSymlink();
  }

  /** The stock deprecatedGetFileLinkStatusInternal, reading the link with readlink(2). */
  private FileStatus linkStatus(Path f) throws IOException {
    String target = readLink(new File(f.toString()));
    try {
      FileStatus fs = getFileStatus(f);
      if (target.isEmpty()) {
        return fs;
      }
      return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
          fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(), fs.getOwner(),
          fs.getGroup(), new Path(target), f);
    } catch (FileNotFoundException e) {
      if (!target.isEmpty()) {  // a dangling link
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
            new Path(target), f);
      }
      throw e;
    }
  }

  /** FileUtil.readLink: the trimmed link target, or "" for anything that is not a link. */
  private static String readLink(File f) {
    try {
      return Files.readSymbolicLink(f.toPath()).toString().trim();
    } catch (IOException | InvalidPathException e) {
      return "";
    }
  }
}
